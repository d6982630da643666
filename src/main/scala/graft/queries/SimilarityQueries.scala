package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.Similarity

/** Similarity-search verify queries over the `embeddings` table.
  * Cosines are computed in double with a fixed evaluation order and
  * rounded to 6 dp BEFORE ranking, so ordering ties resolve identically
  * across engines. */
object SimilarityQueries {

  private val cosSql =
    """round(list_sum([a[i]::DOUBLE * b[i]::DOUBLE
       |                  FOR i IN generate_series(1, len(a))]) /
       |        (sqrt(list_sum([a[i]::DOUBLE * a[i]::DOUBLE
       |                        FOR i IN generate_series(1, len(a))])) *
       |         sqrt(list_sum([b[i]::DOUBLE * b[i]::DOUBLE
       |                        FOR i IN generate_series(1, len(b))]))), 6)""".stripMargin

  /** Brute-force cosine top-5 for query vectors (vec_id < 8) over the
    * rest of the corpus — the exact ANN baseline. */
  val qEmbedKnn: Q = Q(
    "q_embed_knn",
    (spark, dir) => Similarity
      .knnBruteForce(Tables.embeddings(spark, dir), queryMaxId = 8, k = 5)
      .withColumnRenamed("rank", "rnk"),
    Some(s"""
      WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings WHERE vec_id < 8),
      scored AS (
        SELECT qid, e.vec_id, ${cosSql.replace("b[", "e.embedding[").replace("len(b)", "len(e.embedding)")} AS cos
        FROM embeddings e, q WHERE e.vec_id >= 8),
      r AS (SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
            FROM scored)
      SELECT qid, vec_id, cos, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 5
      ORDER BY qid, rnk
    """.trim))

  /** IVF index build: assign every vector to its nearest of 8 centroid
    * vectors; verify the cell occupancy histogram. */
  val qEmbedIvf: Q = Q(
    "q_embed_ivf",
    (spark, dir) => Similarity.ivfCells(Tables.embeddings(spark, dir), numCentroids = 8),
    Some(s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS a FROM embeddings WHERE vec_id < 8),
      scored AS (
        SELECT e.vec_id, cid, ${cosSql.replace("b[", "e.embedding[").replace("len(b)", "len(e.embedding)")} AS cos
        FROM embeddings e, c),
      assigned AS (
        SELECT vec_id, cid AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM scored)
      SELECT cell, count(*) AS n_vectors FROM assigned WHERE rn = 1
      GROUP BY cell ORDER BY cell
    """.trim))

  /** Embedding-cosine near-duplicate pairs, label-blocked (the blocking
    * key stands in for an LSH bucket at scale). */
  val qEmbedNeardup: Q = Q(
    "q_embed_neardup",
    (spark, dir) => Similarity.blockedNearDupPairs(Tables.embeddings(spark, dir), 0.4),
    Some(s"""
      SELECT x.vec_id AS va, y.vec_id AS vb, x.label AS label,
             ${cosSql.replace("a[", "x.embedding[").replace("len(a)", "len(x.embedding)")
                     .replace("b[", "y.embedding[").replace("len(b)", "len(y.embedding)")} AS cos
      FROM embeddings x JOIN embeddings y
        ON x.label = y.label AND x.vec_id < y.vec_id
      WHERE ${cosSql.replace("a[", "x.embedding[").replace("len(a)", "len(x.embedding)")
                    .replace("b[", "y.embedding[").replace("len(b)", "len(y.embedding)")} >= 0.4
      ORDER BY va, vb
    """.trim))

  /** Cosine formula over two named DuckDB list expressions (identical
    * math to [[cosSql]], for the generated oracles). */
  private def cosOf(a: String, b: String): String =
    s"""round(list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE
       |                  FOR i IN generate_series(1, len($a))]) /
       |        (sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE
       |                        FOR i IN generate_series(1, len($a))])) *
       |         sqrt(list_sum([$b[i]::DOUBLE * $b[i]::DOUBLE
       |                        FOR i IN generate_series(1, len($b))]))), 6)""".stripMargin

  /** Generated WITH-clause chain replaying
    * [[Similarity.lloydFromCorpus]]'s deterministic Lloyd iterations in
    * DuckDB: assignment by rounded cosine (ties to the lower cell),
    * then the cell mean over integer-millionth-quantized components
    * cast to float — bit-identical centroids on both engines. Ends at
    * table `cents$iterations(cell, cvec)`. */
  private def lloydCte(c: Int, iterations: Int,
                       from: String = "embeddings"): String = {
    val parts = Seq.newBuilder[String]
    parts += s"cents0 AS (SELECT vec_id AS cell, embedding AS cvec FROM $from WHERE vec_id < $c)"
    for (i <- 1 to iterations) {
      parts += s"""
      asg$i AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
          FROM $from e, cents${i - 1} c)
        WHERE rn = 1),
      qv$i AS (
        SELECT a.cell,
               unnest([{'pos': i, 'qv': CAST(floor(e.embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT)}
                       FOR i IN generate_series(1, len(e.embedding))], recursive := true)
        FROM $from e JOIN asg$i a USING (vec_id)),
      cents$i AS (
        SELECT cell, list(CAST(mv AS FLOAT) ORDER BY pos) AS cvec FROM (
          SELECT cell, pos, sum(qv) / (1000000.0 * count(*)) AS mv
          FROM qv$i GROUP BY cell, pos)
        GROUP BY cell)"""
    }
    parts.result().mkString(",")
  }

  /** Lloyd-refined IVF index build (2 iterations over 8 first-C-seeded
    * cells): verifies the whole deterministic k-means loop — quantized
    * means, float centroids, reassignment — via the occupancy
    * histogram. The oracle unrolls the same two iterations in SQL. */
  val qEmbedIvfRefined: Q = Q(
    "q_embed_ivf_refined",
    (spark, dir) => {
      // The registered IVF index-build step: Lloyd refinement + final
      // assignment written as a layout artifact
      // (operators/IvfArtifact.scala); the occupancy histogram is read
      // off the materialized inverted list. Search queries
      // (q_embed_ivf_multiprobe) consume the index instead of
      // rebuilding it — offline build, online search.
      graft.operators.IvfArtifact(numCentroids = 8, iterations = 2)
        .materialize(spark, dir)
      graft.operators.IvfArtifact.inverted(spark, dir, 8, 2)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("cell"))
    },
    Some(s"""
      WITH ${lloydCte(8, 2)},
      final_asg AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
          FROM embeddings e, cents2 c)
        WHERE rn = 1)
      SELECT cell, count(*) AS n_vectors FROM final_asg
      GROUP BY cell ORDER BY cell
    """.trim))

  /** Multi-probe ANN over the refined index: query vectors 8..15 search
    * their TWO nearest of the 8 Lloyd-refined cells for their top-3 —
    * the recall-recovery path (candidates ⊇ single-probe ⇒ recall ≥
    * single-probe, asserted against brute force in IvfRecallSpec). */
  val qEmbedIvfMultiprobe: Q = Q(
    "q_embed_ivf_multiprobe",
    (spark, dir) => Similarity.ivfSearchIndexed(
      graft.operators.IvfArtifact.centroids(spark, dir, 8, 2),
      graft.operators.IvfArtifact.inverted(spark, dir, 8, 2),
      qMinId = 8, qMaxId = 16, k = 3, probes = 2),
    Some(s"""
      WITH ${lloydCte(8, 2)},
      final_asg AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
          FROM embeddings e, cents2 c)
        WHERE rn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
            WHERE vec_id >= 8 AND vec_id < 16),
      probed AS (
        SELECT qid, cell FROM (
          SELECT q.qid, c.cell,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${cosOf("q.qvec", "c.cvec")} DESC, c.cell) AS rn
          FROM q, cents2 c)
        WHERE rn <= 2),
      cand AS (
        SELECT q.qid, e.vec_id, ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM q JOIN probed p ON q.qid = p.qid
        JOIN final_asg af ON af.cell = p.cell
        JOIN embeddings e ON e.vec_id = af.vec_id
        WHERE e.vec_id < 8 OR e.vec_id >= 16),
      r AS (SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
            FROM cand)
      SELECT qid, vec_id, cos, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 3
      ORDER BY qid, rnk
    """.trim))

  /** IVF single-probe search: query vectors 8..15 search only their own
    * cell (8 centroid cells from vectors 0..7) for their top-3 — the
    * sub-linear ANN path end-to-end. */
  val qEmbedIvfKnn: Q = Q(
    "q_embed_ivf_knn",
    (spark, dir) => Similarity.ivfSearch(Tables.embeddings(spark, dir),
      numCentroids = 8, qMinId = 8, qMaxId = 16, k = 3),
    Some(s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS a FROM embeddings WHERE vec_id < 8),
      scored AS (
        SELECT e.vec_id, cid, ${cosSql.replace("b[", "e.embedding[").replace("len(b)", "len(e.embedding)")} AS cos
        FROM embeddings e, c),
      assigned AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM scored)
        WHERE rn = 1),
      q AS (
        SELECT e.vec_id AS qid, a2.cell, e.embedding AS a
        FROM embeddings e JOIN assigned a2 USING (vec_id)
        WHERE e.vec_id >= 8 AND e.vec_id < 16),
      cand AS (
        SELECT q.qid, e.vec_id,
               ${cosSql.replace("b[", "e.embedding[").replace("len(b)", "len(e.embedding)")} AS cos
        FROM embeddings e
        JOIN assigned a3 ON e.vec_id = a3.vec_id
        JOIN q ON a3.cell = q.cell
        WHERE e.vec_id < 8 OR e.vec_id >= 16),
      r AS (SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
            FROM cand)
      SELECT qid, vec_id, cos, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 3
      ORDER BY qid, rnk
    """.trim))

  /** Signed-random-projection LSH near-dup pairs: 64 md5-derived
    * Rademacher hyperplanes → 8 bands × 8 bits → bucket join →
    * exact-cosine verification at 0.4. The oracle rebuilds the
    * hyperplanes, the fixed-point projections, the band buckets AND the
    * verification in SQL, so the whole LSH pipeline (not just the final
    * filter) is cross-checked. */
  val qEmbedSrpNeardup: Q = Q(
    "q_embed_srp_neardup",
    (spark, dir) => Similarity
      .srpNearDupPairs(Tables.embeddings(spark, dir), minCos = 0.4),
    Some(s"""
      WITH sgn AS (
        SELECT p, d,
               CASE WHEN ascii(substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1)) % 2 = 0
                    THEN 1 ELSE -1 END AS s
        FROM generate_series(0, 63) t1(p), generate_series(0, 63) t2(d)),
      bits AS (
        SELECT e.vec_id, p,
               CASE WHEN sum(CAST(floor(e.embedding[d+1]::DOUBLE * 1000000 + 0.5) AS BIGINT) * s) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM embeddings e, sgn
        GROUP BY e.vec_id, p),
      bands AS (
        SELECT vec_id, p // 8 AS band,
               CAST(sum(bit * CAST(pow(2, p % 8) AS BIGINT)) AS BIGINT) AS bval
        FROM bits GROUP BY vec_id, p // 8),
      cand AS (
        SELECT DISTINCT bx.vec_id AS va, bz.vec_id AS vb
        FROM bands bx JOIN bands bz
          ON bx.band = bz.band AND bx.bval = bz.bval AND bx.vec_id < bz.vec_id)
      SELECT c.va, c.vb, ${cosOf("x.embedding", "y.embedding")} AS cos
      FROM cand c
      JOIN embeddings x ON c.va = x.vec_id
      JOIN embeddings y ON c.vb = y.vec_id
      WHERE ${cosOf("x.embedding", "y.embedding")} >= 0.4
      ORDER BY va, vb
    """.trim))

  /** Int8 scalar-quantization recall@5 vs the exact float baseline —
    * the oracle repeats the quantization (floor half-up at scale
    * 127/max|v|, clamp to ±127), the integer-dot ranking, and the
    * top-5 set intersection. */
  val qEmbedQuantized: Q = Q(
    "q_embed_quantized",
    (spark, dir) => Similarity
      .quantizedRecall(Tables.embeddings(spark, dir), queryMaxId = 8, k = 5),
    Some(s"""
      WITH qz AS (
        SELECT vec_id,
               list_transform(embedding, v ->
                 CASE WHEN amax = 0 THEN 0
                      ELSE greatest(-127, least(127,
                             CAST(floor(v::DOUBLE * 127.0 / amax + 0.5) AS BIGINT)))
                 END) AS q
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding, v -> abs(v::DOUBLE))) AS amax
              FROM embeddings)),
      qn AS (
        SELECT vec_id, q,
               sqrt(list_sum([q[i]::DOUBLE * q[i]::DOUBLE
                              FOR i IN generate_series(1, len(q))])) AS nrm
        FROM qz),
      approx AS (
        SELECT qid, vec_id FROM (
          SELECT qx.vec_id AS qid, e.vec_id,
                 row_number() OVER (PARTITION BY qx.vec_id ORDER BY
                   round(list_sum([qx.q[i]::DOUBLE * e.q[i]::DOUBLE
                                   FOR i IN generate_series(1, len(qx.q))]) /
                         (qx.nrm * e.nrm), 6) DESC, e.vec_id) AS rnk
          FROM qn qx, qn e WHERE qx.vec_id < 8 AND e.vec_id >= 8)
        WHERE rnk <= 5),
      exact AS (
        SELECT qid, vec_id FROM (
          SELECT qx.vec_id AS qid, e.vec_id,
                 row_number() OVER (PARTITION BY qx.vec_id ORDER BY
                   ${cosOf("qx.embedding", "e.embedding")} DESC, e.vec_id) AS rnk
          FROM embeddings qx, embeddings e WHERE qx.vec_id < 8 AND e.vec_id >= 8)
        WHERE rnk <= 5),
      overlap AS (
        SELECT a.qid, count(*) AS n_overlap
        FROM approx a JOIN exact x ON a.qid = x.qid AND a.vec_id = x.vec_id
        GROUP BY a.qid)
      SELECT q.qid, coalesce(o.n_overlap, 0) AS n_overlap,
             round(coalesce(o.n_overlap, 0)::DOUBLE / 5, 6) AS recall
      FROM (SELECT DISTINCT qid FROM approx) q
      LEFT JOIN overlap o ON q.qid = o.qid
      ORDER BY q.qid
    """.trim))

  /** Product quantization + asymmetric-distance top-5: 8 subspaces × 16
    * deterministic codewords, fixed-point ADC sums. The oracle rebuilds
    * codebooks, encodes the corpus, builds the per-query LUT and ranks —
    * the complete PQ pipeline cross-checked, not just the output
    * filter. */
  val qEmbedPq: Q = Q(
    "q_embed_pq",
    (spark, dir) => Similarity.pqSearch(
      Tables.embeddings(spark, dir), queryMaxId = 8, corpusMinId = 16, k = 5),
    Some("""
      WITH subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
      cb AS (
        SELECT s.sub, CAST(e.vec_id AS INT) AS cidx,
               [e.embedding[i] FOR i IN generate_series(s.sub * 8 + 1, s.sub * 8 + 8)] AS cvec
        FROM embeddings e, subs s WHERE e.vec_id < 16),
      encd AS (
        SELECT vec_id, sub, cidx AS code FROM (
          SELECT e.vec_id, c.sub, c.cidx,
                 row_number() OVER (PARTITION BY e.vec_id, c.sub ORDER BY
                   list_sum([(e.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                             * (e.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                             FOR i IN generate_series(1, 8)]), c.cidx) AS rn
          FROM embeddings e, cb c WHERE e.vec_id >= 16)
        WHERE rn = 1),
      lut AS (
        SELECT q.vec_id AS qid, c.sub, c.cidx,
               CAST(floor(list_sum([(q.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                                    * (q.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                                    FOR i IN generate_series(1, 8)]) * 1000000000 + 0.5)
                    AS BIGINT) AS d_int
        FROM embeddings q, cb c WHERE q.vec_id < 8),
      scored AS (
        SELECT l.qid, e.vec_id, sum(l.d_int) AS adc
        FROM encd e JOIN lut l ON e.sub = l.sub AND e.code = l.cidx
        GROUP BY l.qid, e.vec_id),
      r AS (
        SELECT qid, vec_id, CAST(adc AS BIGINT) AS adc,
               row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rnk
        FROM scored)
      SELECT qid, vec_id, adc, CAST(rnk AS INT) AS rnk
      FROM r WHERE rnk <= 5 ORDER BY qid, rnk
    """.trim))

  /** Generated WITH-clause chain replaying
    * [[Similarity.pqCodebookRefined]]'s per-subspace Lloyd iterations
    * in DuckDB: assignment by fixed-order double L2 (ties to the lower
    * codeword index), then the codeword mean over integer-millionth-
    * quantized components cast to float — bit-identical codebooks on
    * both engines. Ends at table `cb$iterations(sub, cidx, cvec)`. */
  private def pqLloydCte(iterations: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += "subs AS (SELECT unnest(generate_series(0, 7)) AS sub)"
    parts += """cb0 AS (
        SELECT s.sub, CAST(e.vec_id AS INT) AS cidx,
               [e.embedding[i] FOR i IN generate_series(s.sub * 8 + 1, s.sub * 8 + 8)] AS cvec
        FROM embeddings e, subs s WHERE e.vec_id < 16)"""
    for (i <- 1 to iterations) {
      parts += s"""
      pasg$i AS (
        SELECT vec_id, sub, cidx FROM (
          SELECT e.vec_id, c.sub, c.cidx,
                 row_number() OVER (PARTITION BY e.vec_id, c.sub ORDER BY
                   list_sum([(e.embedding[c.sub * 8 + j]::DOUBLE - c.cvec[j]::DOUBLE)
                             * (e.embedding[c.sub * 8 + j]::DOUBLE - c.cvec[j]::DOUBLE)
                             FOR j IN generate_series(1, 8)]), c.cidx) AS rn
          FROM embeddings e, cb${i - 1} c)
        WHERE rn = 1),
      cb$i AS (
        SELECT sub, cidx, list(CAST(mv AS FLOAT) ORDER BY pos) AS cvec FROM (
          SELECT a.sub, a.cidx, g.pos,
                 sum(CAST(floor(e.embedding[a.sub * 8 + g.pos]::DOUBLE * 1000000 + 0.5) AS BIGINT))
                   / (1000000.0 * count(*)) AS mv
          FROM embeddings e
          JOIN pasg$i a USING (vec_id)
          CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS pos) g
          GROUP BY a.sub, a.cidx, g.pos)
        GROUP BY sub, cidx)"""
    }
    parts.result().mkString(",")
  }

  /** PQ + ADC over LLOYD-REFINED codebooks (2 per-subspace k-means
    * iterations) — the production-shape index build. The oracle unrolls
    * both refinement iterations, re-encodes the corpus and ranks, so
    * the entire refined pipeline is cross-checked. Refined-vs-seeded
    * recall is asserted in PqRecallSpec. */
  val qEmbedPqRefined: Q = Q(
    "q_embed_pq_refined",
    // round 13: the 2-iteration Lloyd refinement is quantizer TRAINING
    // — stored once ([[graft.operators.PqCodebookArtifact]], the
    // IvfArtifact treatment); the search pays encode + LUT + ADC only.
    // The oracle below still replays the refinement from embeddings.
    (spark, dir) => Similarity.pqSearchWith(
      Tables.embeddings(spark, dir),
      graft.operators.PqCodebookArtifact.codebook(spark, dir, iterations = 2),
      queryMaxId = 8, corpusMinId = 16, k = 5),
    Some(s"""
      WITH ${pqLloydCte(2)},
      encd AS (
        SELECT vec_id, sub, cidx AS code FROM (
          SELECT e.vec_id, c.sub, c.cidx,
                 row_number() OVER (PARTITION BY e.vec_id, c.sub ORDER BY
                   list_sum([(e.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                             * (e.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                             FOR i IN generate_series(1, 8)]), c.cidx) AS rn
          FROM embeddings e, cb2 c WHERE e.vec_id >= 16)
        WHERE rn = 1),
      lut AS (
        SELECT q.vec_id AS qid, c.sub, c.cidx,
               CAST(floor(list_sum([(q.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                                    * (q.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                                    FOR i IN generate_series(1, 8)]) * 1000000000 + 0.5)
                    AS BIGINT) AS d_int
        FROM embeddings q, cb2 c WHERE q.vec_id < 8),
      scored AS (
        SELECT l.qid, e.vec_id, sum(l.d_int) AS adc
        FROM encd e JOIN lut l ON e.sub = l.sub AND e.code = l.cidx
        GROUP BY l.qid, e.vec_id),
      r AS (
        SELECT qid, vec_id, CAST(adc AS BIGINT) AS adc,
               row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rnk
        FROM scored)
      SELECT qid, vec_id, adc, CAST(rnk AS INT) AS rnk
      FROM r WHERE rnk <= 5 ORDER BY qid, rnk
    """.trim))

  /** Semantic dedup, SemDeDup-shaped
    * ([[Similarity.cellBlockedNearDupPairs]]): cluster the corpus into
    * 8 IVF cells, then cosine-compare only within a cell — the
    * blocking key is learned from embedding geometry, no labels. The
    * oracle replays the full pipeline: nearest-centroid assignment
    * (ties to the lower cell), same-cell pairs, rounded-cosine
    * threshold, keep = the pair's lower id. */
  val qEmbedSemanticDedup: Q = Q(
    "q_embed_semantic_dedup",
    (spark, dir) => Similarity.cellBlockedNearDupPairs(
      Tables.embeddings(spark, dir), numCentroids = 8, minCos = 0.35),
    Some(s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cid) AS rn
          FROM embeddings e, c)
        WHERE rn = 1)
      SELECT x.cell, x.va, x.vb, x.cos, x.va AS keep FROM (
        SELECT aa.cell, a.vec_id AS va, b.vec_id AS vb,
               ${cosOf("a.embedding", "b.embedding")} AS cos
        FROM embeddings a
          JOIN assigned aa ON a.vec_id = aa.vec_id
          JOIN assigned ab ON aa.cell = ab.cell AND a.vec_id < ab.vec_id
          JOIN embeddings b ON b.vec_id = ab.vec_id) x
      WHERE x.cos >= 0.35
      ORDER BY x.va, x.vb
    """.trim))

  /** Embedding-table health gate — the checks an ANN pipeline runs
    * BEFORE spending an index build: per label, vector count,
    * dimension min/max (a mixed-dim table corrupts every dot product
    * downstream), zero-norm count (un-normalizable vectors), and the
    * norm envelope (lo/hi/mean ≈ 1 for a unit-normalized corpus).
    * One scan, one small aggregate, no shuffle of the vectors
    * themselves. The mean norm goes through
    * [[graft.operators.Exact.microMean]] so no float-sum order can
    * drift; min/max are order-free on 6dp-rounded values. Empty (or
    * null) embeddings coalesce to norm 0.0 in BOTH engines — they land
    * in `n_zero`, which is exactly the malformed class this gate
    * exists to count, never silently excluded by a NULL aggregate. */
  val qEmbedHealth: Q = Q(
    "q_embed_health",
    (spark, dir) => {
      Similarity.vectorHealth(Tables.embeddings(spark, dir))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"),
          min(col("dim")).as("dim_lo"), max(col("dim")).as("dim_hi"),
          sum(when(col("norm") < 1e-6, 1L).otherwise(0L)).as("n_zero"),
          min(round(col("norm"), 6)).as("norm_lo"),
          max(round(col("norm"), 6)).as("norm_hi"),
          graft.operators.Exact.microMean(col("norm"), count(lit(1)))
            .as("avg_norm"))
        .orderBy(col("label"))
    },
    Some("""
      WITH n AS (
        SELECT label, CAST(coalesce(len(embedding), 0) AS BIGINT) AS dim,
               sqrt(coalesce(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                              FOR i IN generate_series(1, len(embedding))]), 0.0)) AS norm
        FROM embeddings)
      SELECT label, count(*) AS n_vectors,
             min(dim) AS dim_lo, max(dim) AS dim_hi,
             CAST(sum(CASE WHEN norm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
             min(round(norm, 6)) AS norm_lo, max(round(norm, 6)) AS norm_hi,
             round(CAST(sum(CAST(floor(norm * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1000000, 6) AS avg_norm
      FROM n GROUP BY label ORDER BY label
    """.trim))

  /** Matryoshka recall@5: top-5 by the FIRST-16-component prefix of
    * each embedding vs the full-64-dim exact top-5 — the stored-prefix
    * memory lever's quality gauge (4× smaller index when the prefix
    * suffices). Oracle replays both searches with list slices. */
  val qEmbedMatryoshka: Q = {
    val sub = 16
    Q(
      "q_embed_matryoshka",
      (spark, dir) => Similarity.matryoshkaRecall(
        Tables.embeddings(spark, dir), queryMaxId = 8, k = 5, subDim = sub),
      Some(s"""
      WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 8),
      ex AS (
        SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${cosOf("q.embedding", "e.embedding")} DESC, e.vec_id) AS rn
          FROM embeddings e, q WHERE e.vec_id >= 8)
        WHERE rn <= 5),
      tr AS (
        SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${cosOf(s"(q.embedding[1:$sub])", s"(e.embedding[1:$sub])")} DESC,
                            e.vec_id) AS rn
          FROM embeddings e, q WHERE e.vec_id >= 8)
        WHERE rn <= 5)
      SELECT q.qid,
             CAST(coalesce((SELECT count(*) FROM ex JOIN tr
                            ON ex.qid = tr.qid AND ex.vec_id = tr.vec_id
                            WHERE ex.qid = q.qid), 0) AS BIGINT) AS n_overlap,
             round(coalesce((SELECT count(*) FROM ex JOIN tr
                             ON ex.qid = tr.qid AND ex.vec_id = tr.vec_id
                             WHERE ex.qid = q.qid), 0) / 5.0, 6) AS recall
      FROM q ORDER BY qid
    """.trim))
  }

  /** Per-label centroid drift vs the global corpus centroid — the
    * embedding-mixture monitor: each label's quantized-integer mean
    * vector (the [[Similarity.lloydFromCorpus]] determinism contract)
    * cosine-compared to the all-corpus mean. The oracle replays the
    * same quantized means and cosine in SQL. */
  val qEmbedCentroidDrift: Q = Q(
    "q_embed_centroid_drift",
    (spark, dir) => Similarity.centroidDrift(Tables.embeddings(spark, dir)),
    Some(s"""
      WITH qv AS (
        SELECT label,
               unnest([{'pos': i, 'qv': CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT)}
                       FOR i IN generate_series(1, len(embedding))], recursive := true)
        FROM embeddings),
      lc AS (
        SELECT label, list(CAST(mv AS FLOAT) ORDER BY pos) AS cvec FROM (
          SELECT label, pos, sum(qv) / (1000000.0 * count(*)) AS mv
          FROM qv GROUP BY label, pos)
        GROUP BY label),
      gc AS (
        SELECT list(CAST(mv AS FLOAT) ORDER BY pos) AS gvec FROM (
          SELECT pos, sum(qv) / (1000000.0 * count(*)) AS mv
          FROM qv GROUP BY pos)),
      n AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label)
      SELECT l.label, n.n_vectors,
             ${cosOf("l.cvec", "gc.gvec")} AS drift_cos
      FROM lc l JOIN n ON n.label = l.label, gc
      ORDER BY l.label
    """.trim))

  /** Semantic-dedup threshold sweep: same-cell near-dup pair counts
    * and distinct dropped-doc counts at five cosine cutoffs — the
    * dedup-rate curve a pipeline reads before committing to a
    * threshold (each +0.05 trades recall of true dups against false
    * merges). ONE cell-blocked pair pass scores every pair; the sweep
    * is a broadcast join against the 5-row threshold dim — the pair
    * machinery never re-runs per threshold. */
  val qEmbedThresholdSweep: Q = {
    val cuts = Seq(0.35, 0.40, 0.45, 0.50, 0.55)
    Q(
      "q_embed_threshold_sweep",
      (spark, dir) => {
        val pairs = Similarity.cellBlockedNearDupPairs(
          Tables.embeddings(spark, dir), numCentroids = 8, minCos = 0.35)
        val ts = spark.createDataFrame(cuts.map(Tuple1(_))).toDF("threshold")
        // left from the threshold dim: a cutoff that drops nothing
        // still plots as an explicit zero on the curve
        ts.join(pairs, col("cos") >= col("threshold"), "left")
          .groupBy(col("threshold"))
          .agg(count(col("va")).as("n_pairs"),
            countDistinct(col("vb")).as("n_docs_dropped"))
          .orderBy(col("threshold"))
      },
      Some(s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                 WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cid) AS rn
          FROM embeddings e, c)
        WHERE rn = 1),
      pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               ${cosOf("a.embedding", "b.embedding")} AS cos
        FROM embeddings a
          JOIN assigned aa ON a.vec_id = aa.vec_id
          JOIN assigned ab ON aa.cell = ab.cell AND a.vec_id < ab.vec_id
          JOIN embeddings b ON b.vec_id = ab.vec_id
        WHERE ${cosOf("a.embedding", "b.embedding")} >= 0.35),
      ts(threshold) AS (SELECT CAST(t AS DOUBLE) FROM (VALUES ${cuts.map(c => s"($c)").mkString(", ")}) v(t))
      SELECT threshold, count(va) AS n_pairs,
             CAST(count(DISTINCT vb) AS BIGINT) AS n_docs_dropped
      FROM ts LEFT JOIN pairs ON cos >= threshold
      GROUP BY threshold ORDER BY threshold
    """.trim))
  }

  /** Hard-negative mining for contrastive pairs: each query vector's
    * top-3 nearest corpus vectors with a DIFFERENT label — close in
    * space, semantically distinct, the negatives that actually teach
    * a contrastive model. */
  val qEmbedHardneg: Q = Q(
    "q_embed_hardneg",
    (spark, dir) => Similarity.hardNegatives(
      Tables.embeddings(spark, dir), queryMaxId = 8, k = 3),
    Some(s"""
      WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qvec
                 FROM embeddings WHERE vec_id < 8),
      scored AS (
        SELECT q.qid, e.vec_id, e.label,
               ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM embeddings e, q
        WHERE e.vec_id >= 8 AND e.label <> q.qlabel),
      r AS (SELECT qid, vec_id, label, cos,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY cos DESC, vec_id) AS rnk
            FROM scored)
      SELECT qid, vec_id, label, cos, CAST(rnk AS INT) AS rnk
      FROM r WHERE rnk <= 3 ORDER BY qid, rnk
    """.trim))

  /** IVF recall@k curve (k = 1..5, single probe, 8 first-C cells):
    * both rank tables join once and every k counts the pairs inside
    * both top-k prefixes — the curve a probe/centroid configuration
    * is justified from. */
  val qEmbedRecallCurve: Q = Q(
    "q_embed_recall_curve",
    (spark, dir) => Similarity.ivfRecallCurve(
      Tables.embeddings(spark, dir), numCentroids = 8,
      qMinId = 8, qMaxId = 16, maxK = 5),
    Some(s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS a FROM embeddings WHERE vec_id < 8),
      scoredc AS (
        SELECT e.vec_id, cid, ${cosSql.replace("b[", "e.embedding[").replace("len(b)", "len(e.embedding)")} AS cos
        FROM embeddings e, c),
      assigned AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM scoredc)
        WHERE rn = 1),
      q AS (
        SELECT e.vec_id AS qid, a2.cell, e.embedding AS qvec
        FROM embeddings e JOIN assigned a2 USING (vec_id)
        WHERE e.vec_id >= 8 AND e.vec_id < 16),
      rap AS (
        SELECT qid, vec_id, rnk AS rap FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${cosOf("q.qvec", "e.embedding")} DESC, e.vec_id) AS rnk
          FROM embeddings e
          JOIN assigned a3 ON e.vec_id = a3.vec_id
          JOIN q ON a3.cell = q.cell
          WHERE e.vec_id < 8 OR e.vec_id >= 16)
        WHERE rnk <= 5),
      rex AS (
        SELECT qid, vec_id, rnk AS rex FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${cosOf("q.qvec", "e.embedding")} DESC, e.vec_id) AS rnk
          FROM embeddings e, q
          WHERE e.vec_id < 8 OR e.vec_id >= 16)
        WHERE rnk <= 5),
      matched AS (
        SELECT rex.qid, rex.vec_id, rex.rex, rap.rap
        FROM rex JOIN rap ON rex.qid = rap.qid AND rex.vec_id = rap.vec_id),
      ks AS (SELECT CAST(unnest(generate_series(1, 5)) AS INT) AS k)
      SELECT k, count(qid) AS n_overlap,
             round(CAST(count(qid) AS DOUBLE) / (k * 8.0), 6) AS recall
      FROM ks LEFT JOIN matched ON rex <= k AND rap <= k
      GROUP BY k ORDER BY k
    """.trim))

  /** Retrieval-quality evaluation: mean reciprocal rank (MRR) and
    * hit@10 of label-match retrieval, per label. A 32-query panel
    * (vec_id < 32) is broadcast against the corpus; each query's
    * corpus ranking (rounded cosine desc, vec_id) yields the rank of
    * the FIRST same-label neighbor, and reciprocal ranks aggregate in
    * floored nano-units so the oracle replays the metric exactly.
    *
    * Scale: the panel is the broadcast side (offline eval always runs
    * on a sampled query set); the corpus never shuffles — scoring is
    * scan-shaped, and the per-query ranking window is partitioned by
    * qid. Label-match eval needs no human relevance labels, which is
    * why it's the standard embedding regression gauge. */
  val qEvalMrr: Q = Q(
    "q_eval_mrr",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val queries = broadcast(emb.filter(col("vec_id") < 32)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qvec")))
      val corpus = emb.filter(col("vec_id") >= 32)
      val scored = corpus.crossJoin(queries)
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          Similarity.cosine(col("embedding"), col("qvec")).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      val firstHit = scored.withColumn("rnk", row_number().over(w))
        .filter(col("label") === col("qlabel"))
        .groupBy(col("qid"), col("qlabel"))
        .agg(min(col("rnk")).cast("long").as("r"))
      firstHit.groupBy(col("qlabel").as("label"))
        .agg(count(lit(1)).as("n_queries"),
          expr("sum(1000000000L DIV r) DIV count(1)").as("mrr_nanos"),
          sum((col("r") <= 10).cast("long")).as("n_hit_at_10"))
        .orderBy(col("label"))
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id AS qid, label AS qlabel, embedding AS a
        FROM embeddings WHERE vec_id < 32),
      scored AS (
        SELECT qid, qlabel, e.vec_id, e.label,
               ${cosSql.replace("b[", "e.embedding[").replace("len(b)", "len(e.embedding)")} AS cos
        FROM embeddings e, q WHERE e.vec_id >= 32),
      ranked AS (
        SELECT qid, qlabel, label,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, vec_id) AS rnk
        FROM scored),
      fh AS (
        SELECT qid, qlabel, CAST(min(rnk) AS BIGINT) AS r
        FROM ranked WHERE label = qlabel GROUP BY qid, qlabel)
      SELECT qlabel AS label, count(*) AS n_queries,
             CAST(sum(1000000000 // r) // count(*) AS BIGINT) AS mrr_nanos,
             CAST(sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit_at_10
      FROM fh GROUP BY qlabel ORDER BY label
    """.trim))

  /** nDCG@10 per label over the same query/corpus split as
    * `q_eval_mrr` — the graded companion to first-hit MRR (DCG credits
    * every relevant doc in the top 10 at 1/log2(rank+1), normalized by
    * the best achievable ordering). Every log term is floored to
    * integer nanos BEFORE summation, so DCG/IDCG are order-free exact
    * integers and the final ratio is one integer division — the same
    * exact-commutative-sum discipline as the entropy/JSD family (a
    * plain double DCG sum would be partition-order-sensitive).
    *
    * Scale: rides the identical broadcast-queries × corpus scoring
    * pass as MRR (queries are the bounded broadcast side); the rank
    * window partitions by qid, never globally. */
  val qEvalNdcg: Q = Q(
    "q_eval_ndcg",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val queries = broadcast(emb.filter(col("vec_id") < 32)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qvec")))
      val corpus = emb.filter(col("vec_id") >= 32)
      val scored = corpus.crossJoin(queries)
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          Similarity.cosine(col("embedding"), col("qvec")).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      val dcg = scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .groupBy(col("qid"), col("qlabel"))
        .agg(sum(when(col("label") === col("qlabel"),
          floor(lit(1e9) / log2(col("rnk") + 1)).cast("long"))
          .otherwise(lit(0L))).as("dcg_nanos"))
      // ideal DCG: all of the query's top-10 slots filled by relevant
      // docs, capped by how many relevant docs the corpus holds
      val nRel = corpus.groupBy(col("label").as("qlabel"))
        .agg(count(lit(1)).as("n_rel"))
      val idealTable = spark.range(1, 11)
        .select(col("id").as("i"),
          floor(lit(1e9) / log2(col("id") + 1)).cast("long").as("gain"))
      val ideal = nRel.crossJoin(broadcast(idealTable))
        .filter(col("i") <= least(col("n_rel"), lit(10L)))
        .groupBy(col("qlabel"))
        .agg(sum(col("gain")).as("idcg_nanos"))
      dcg.join(ideal, "qlabel")
        .select(col("qlabel"), col("qid"),
          expr("dcg_nanos * 1000000L DIV idcg_nanos").as("ndcg_micros"))
        .groupBy(col("qlabel").as("label"))
        .agg(count(lit(1)).as("n_queries"),
          expr("sum(ndcg_micros) DIV count(1)").as("avg_ndcg_micros"))
        .orderBy(col("label"))
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id AS qid, label AS qlabel, embedding AS a
        FROM embeddings WHERE vec_id < 32),
      scored AS (
        SELECT qid, qlabel, e.vec_id, e.label,
               ${cosSql.replace("b[", "e.embedding[").replace("len(b)", "len(e.embedding)")} AS cos
        FROM embeddings e, q WHERE e.vec_id >= 32),
      ranked AS (
        SELECT qid, qlabel, label,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, vec_id) AS rnk
        FROM scored),
      dcg AS (
        SELECT qid, qlabel,
               sum(CASE WHEN label = qlabel
                 THEN CAST(floor(1e9 / log2(rnk + 1)) AS BIGINT)
                 ELSE 0 END) AS dcg_nanos
        FROM ranked WHERE rnk <= 10 GROUP BY qid, qlabel),
      nrel AS (
        SELECT label AS qlabel, count(*) AS n_rel
        FROM embeddings WHERE vec_id >= 32 GROUP BY label),
      ideal AS (
        SELECT n.qlabel,
               sum(CAST(floor(1e9 / log2(g.i + 1)) AS BIGINT)) AS idcg_nanos
        FROM nrel n JOIN generate_series(1, 10) AS g(i)
          ON g.i <= least(n.n_rel, 10)
        GROUP BY n.qlabel),
      per_q AS (
        SELECT d.qlabel, d.qid,
               (d.dcg_nanos * 1000000) // i.idcg_nanos AS ndcg_micros
        FROM dcg d JOIN ideal i USING (qlabel))
      SELECT qlabel AS label, count(*) AS n_queries,
             CAST(sum(ndcg_micros) // count(*) AS BIGINT) AS avg_ndcg_micros
      FROM per_q GROUP BY qlabel ORDER BY label
    """.trim))

  /** Maximal marginal relevance (MMR) — the diversity-aware top-k
    * selection RAG retrieval stacks run after ANN: greedily pick the
    * candidate maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-selected (λ=0.7, integer micro-units scaled ×10 so the
    * score is the exact BIGINT 7·rel − 3·maxsel). Four unrolled
    * selection steps over a top-12 candidate pool.
    *
    * Scale: the candidate pool is the bounded ANN pre-cut (MMR is
    * always a rerank of top-N, never of the corpus), so the pairwise
    * sim table is N² tiny rows and each greedy step is a
    * TakeOrderedAndProject over the pool — the iterative joins touch
    * pool-sized data only; the corpus contributes one scan-shaped
    * scoring pass. */
  val qEmbedMmr: Q = Q(
    "q_embed_mmr",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val qv = broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec")))
      val cands = emb.filter(col("vec_id") >= 8).crossJoin(qv)
        .select(col("vec_id"), col("embedding"),
          Similarity.cosine(col("embedding"), col("qvec")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(12)
        .select(col("vec_id"), col("embedding"),
          expr("CAST(round(cos * 1000000) AS BIGINT)").as("rel"))
      // round 13: the greedy selection runs IN-ROW over the collected
      // pool (the pool is the bounded ANN pre-cut — 12 rows by
      // construction at ANY corpus size, so one row holds it; the old
      // shape paid a pool×pool self-join plus per-step persist/
      // broadcast/anti-join chains, ~32 scheduler jobs of pool-sized
      // data). Arithmetic identical: same round(cosine·1e6) sims,
      // same 7·rel − 3·maxsel score, same (mmr desc, vec_id)
      // tie-break via max(struct(mmr, −vec_id)).
      val simOf = (a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =>
        round(Similarity.cosine(a, b) * 1000000).cast("long")
      var df = cands.agg(
        array_sort(collect_list(struct(col("vec_id"), col("rel"),
          col("embedding"), lit(0L).as("maxsel")))).as("rem0"))
      for (step <- 1 to 4) {
        val prev = col(s"rem${step - 1}")
        df = df
          .withColumn(s"best$step", array_max(transform(prev, r =>
            struct(
              (lit(7L) * r.getField("rel") - lit(3L) * r.getField("maxsel"))
                .as("mmr"),
              (-r.getField("vec_id")).as("nv"),
              r.getField("vec_id").as("vec_id"),
              r.getField("rel").as("rel"),
              r.getField("maxsel").as("maxsel"),
              r.getField("embedding").as("embedding")))))
          .withColumn(s"rem$step", transform(
            filter(prev, r => r.getField("vec_id") =!=
              col(s"best$step").getField("vec_id")),
            r => struct(
              r.getField("vec_id").as("vec_id"),
              r.getField("rel").as("rel"),
              r.getField("embedding").as("embedding"),
              greatest(r.getField("maxsel"),
                simOf(r.getField("embedding"),
                  col(s"best$step").getField("embedding"))).as("maxsel"))))
      }
      df.select(explode(array((1 to 4).map(s =>
          struct(lit(s.toLong).as("step"),
            col(s"best$s").getField("vec_id").as("vec_id"),
            col(s"best$s").getField("rel").as("rel"),
            col(s"best$s").getField("maxsel").as("maxsel"),
            col(s"best$s").getField("mmr").as("mmr"))): _*)).as("p"))
        .select(col("p.step").as("step"), col("p.vec_id").as("vec_id"),
          col("p.rel").as("rel"), col("p.maxsel").as("maxsel"),
          col("p.mmr").as("mmr"))
        .orderBy(col("step"))
    },
    { // 4 unrolled greedy steps as a generated CTE chain
      def simExpr(a: String, b: String): String =
        s"CAST(round(${cosOf(a, b)} * 1000000) AS BIGINT)"
      val steps = (1 to 4).map { i =>
        val prev = s"r$i"
        s"""s$i AS (
           |  SELECT CAST($i AS BIGINT) AS step, vec_id, rel, maxsel,
           |         7 * rel - 3 * maxsel AS mmr
           |  FROM $prev ORDER BY mmr DESC, vec_id LIMIT 1),
           |r${i + 1} AS (
           |  SELECT r.vec_id, r.rel,
           |         greatest(r.maxsel, coalesce(ps.sim, 0)) AS maxsel
           |  FROM $prev r
           |  LEFT JOIN (SELECT va, sim FROM p JOIN s$i ON p.vb = s$i.vec_id) ps
           |    ON r.vec_id = ps.va
           |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s$i))""".stripMargin
      }.mkString(",\n")
      Some(s"""
        WITH q AS (SELECT embedding AS a FROM embeddings WHERE vec_id = 0),
        sc AS (
          SELECT e.vec_id, e.embedding,
                 ${cosSql.replace("b[", "e.embedding[").replace("len(b)", "len(e.embedding)")} AS cos
          FROM embeddings e, q WHERE e.vec_id >= 8),
        c AS (
          SELECT vec_id, embedding, CAST(round(cos * 1000000) AS BIGINT) AS rel
          FROM sc ORDER BY cos DESC, vec_id LIMIT 12),
        p AS (
          SELECT x.vec_id AS va, y.vec_id AS vb,
                 ${simExpr("x.embedding", "y.embedding")} AS sim
          FROM c x, c y WHERE x.vec_id <> y.vec_id),
        r1 AS (SELECT vec_id, rel, CAST(0 AS BIGINT) AS maxsel FROM c),
        $steps
        SELECT step, vec_id, rel, maxsel, mmr
        FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
              UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
        ORDER BY step
      """.trim)
    })

  /** Label-silhouette separation gauge: mean own-centroid-vs-best-rival
    * cosine margin per label — the go/no-go check before trusting a
    * label column as an ANN blocking key (cf. `q_embed_neardup`'s
    * label blocking and the IVF cell assignment). Scoring is one
    * broadcast cross join against the 10-row centroid table; per-vector
    * margins round to integer nanos before the per-label mean so the
    * aggregate is exact-commutative. */
  val qEmbedSilhouette: Q = Q(
    "q_embed_silhouette",
    (spark, dir) => Similarity.labelSilhouette(Tables.embeddings(spark, dir)),
    Some(s"""
      WITH qv AS (
        SELECT label,
               unnest([{'pos': i, 'qv': CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT)}
                       FOR i IN generate_series(1, len(embedding))], recursive := true)
        FROM embeddings),
      lc AS (
        SELECT label AS clabel, list(CAST(mv AS FLOAT) ORDER BY pos) AS a FROM (
          SELECT label, pos, sum(qv) / (1000000.0 * count(*)) AS mv
          FROM qv GROUP BY label, pos)
        GROUP BY label),
      scored AS (
        SELECT e.vec_id, e.label,
               CASE WHEN e.label = lc.clabel
                 THEN ${cosOf("a", "e.embedding")} END AS own_cos,
               CASE WHEN e.label <> lc.clabel
                 THEN ${cosOf("a", "e.embedding")} END AS other_cos
        FROM embeddings e, lc),
      pv AS (
        SELECT vec_id, label, max(own_cos) AS own_cos,
               max(other_cos) AS other_cos
        FROM scored GROUP BY vec_id, label)
      SELECT label, count(*) AS n_vectors,
             round(CAST(sum(CAST(floor((own_cos - other_cos) * 1e9 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 1e9
                   / CAST(count(*) AS DOUBLE), 6) AS mean_silhouette
      FROM pv GROUP BY label ORDER BY label
    """.trim))

  /** Out-of-distribution screen off the IVF ARTIFACT: each vector's
    * OOD score is 1 − cos to its nearest Lloyd-refined centroid —
    * vectors far from every cell are the ones an index would serve
    * badly and a curation pass quarantines. Reported as a 0.1-wide
    * score histogram with exact-nano mean per bucket. Pure artifact
    * consumer: one broadcast join against the 8-row centroid table,
    * one aggregate — the corpus never shuffles. */
  val qEmbedOodScore: Q = Q(
    "q_embed_ood_score",
    (spark, dir) => {
      val cents = broadcast(
        graft.operators.IvfArtifact.centroids(spark, dir, 8, 2)
          .select(col("cell"), col("cvec")))
      Tables.embeddings(spark, dir)
        .crossJoin(cents)
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("cvec")).as("cos"))
        .groupBy(col("vec_id")).agg(max(col("cos")).as("best_cos"))
        .select(
          floor((lit(1.0d) - col("best_cos")) * 10).cast("int").as("bucket"),
          floor((lit(1.0d) - col("best_cos")) * 1e9 + 0.5).cast("long")
            .as("ood_nanos"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vectors"),
          round(sum(col("ood_nanos")).cast("double") / 1e9
            / count(lit(1)).cast("double"), 6).as("mean_ood"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH ${lloydCte(8, 2)},
      best AS (
        SELECT e.vec_id, max(${cosOf("e.embedding", "c.cvec")}) AS best_cos
        FROM embeddings e, cents2 c GROUP BY e.vec_id),
      scored AS (
        SELECT CAST(floor((1.0 - best_cos) * 10) AS INT) AS bucket,
               CAST(floor((1.0 - best_cos) * 1e9 + 0.5) AS BIGINT) AS ood_nanos
        FROM best)
      SELECT bucket, count(*) AS n_vectors,
             round(CAST(sum(ood_nanos) AS DOUBLE) / 1e9
                   / CAST(count(*) AS DOUBLE), 6) AS mean_ood
      FROM scored GROUP BY bucket ORDER BY bucket
    """.trim))

  /** Sparse lexical kNN: TF-IDF-weighted cosine top-3 neighbors per
    * document via an inverted term index — the lexical complement of
    * the dense-embedding ANN family (and the weighted complement of
    * the set-based Jaccard dedup family). All heavy arithmetic is
    * exact-integer so the two engines cannot drift: weights are
    * integer-division rational idf (`tf * n_docs div df`), dots and
    * norms are BIGINT sums (order-free), and only the final cosine is
    * a float (one division of exact integers, rounded to 6).
    *
    * Scale posture: the self-join runs on the term-posting index, so
    * pair generation costs Σ df² over KEPT terms only — the stop-term
    * cut (`df·10 ≤ n_docs`, the standard lexical-search stop list)
    * bounds every posting list at n/10 and drops the terms that would
    * otherwise make the join quadratic. Partial aggregation (map-side
    * combine on the (a,b) pair key) pre-sums dot contributions before
    * the shuffle; the top-3 window partitions by doc_id (never
    * global). The index itself is a materialized artifact
    * ([[graft.operators.TermIndexArtifact]]) built here once. */
  val qTextCosineKnn: Q = Q(
    "q_text_cosine_knn",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the registered BUILD STEP of the lexical term index
      // ([[graft.operators.TermIndexArtifact]]): pays the tokenize →
      // tf → df → stop-cut build + parquet writes once; this query and
      // q_rank_fusion's cosine leg then rank off the written postings
      graft.operators.TermIndexArtifact.materialize(spark, dir)
      val kept = graft.operators.TermIndexArtifact.kept(spark, dir)
      val norms = graft.operators.TermIndexArtifact.norms(spark, dir)
      val dots = kept.as("a")
        .join(kept.as("b"),
          col("a.term") === col("b.term") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
        .agg(sum(col("a.w") * col("b.w")).as("dot"))
      val cos = dots
        .join(norms.select(col("doc_id").as("ida"), col("nrm").as("na")), "ida")
        .join(norms.select(col("doc_id").as("idb"), col("nrm").as("nb")), "idb")
        .select(col("ida").as("doc_id"), col("idb").as("neighbor"),
          round(col("dot").cast("double")
            / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
            6).as("cos"))
      val w3 = Window.partitionBy(col("doc_id"))
        .orderBy(col("cos").desc, col("neighbor"))
      cos.withColumn("rnk", row_number().over(w3))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("neighbor"), col("cos"))
        .orderBy(col("doc_id"), col("rnk"))
        .limit(300)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      s AS (SELECT count(*) AS nd FROM documents),
      kept AS (
        SELECT t.doc_id, t.term, (t.tf * s.nd) // d.df AS w
        FROM tf t JOIN dft d USING (term) CROSS JOIN s
        WHERE d.df * 10 <= s.nd),
      norms AS (SELECT doc_id, sum(w * w) AS nrm FROM kept GROUP BY 1),
      dots AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, sum(a.w * b.w) AS dot
        FROM kept a JOIN kept b
          ON a.term = b.term AND a.doc_id <> b.doc_id
        GROUP BY 1, 2),
      cos AS (
        SELECT ida AS doc_id, idb AS neighbor,
               round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))),
                 6) AS cos
        FROM dots
        JOIN norms na ON na.doc_id = ida
        JOIN norms nb ON nb.doc_id = idb),
      r AS (
        SELECT doc_id, neighbor, cos,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY cos DESC, neighbor) AS rnk
        FROM cos)
      SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, neighbor, cos
      FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk LIMIT 300
    """.trim))

  /** IVF-PQ composed ANN (the FAISS-IVFPQ production shape): the
    * Lloyd-refined coarse quantizer from the IVF ARTIFACT restricts
    * each query (8..15) to its 2 nearest of 8 cells, and only those
    * cells' members are scored — by PQ asymmetric distance against
    * the seed codebook, integer nano ADC sums. Candidate pruning ×
    * compressed scoring: the two sub-linearities multiply. The oracle
    * replays the whole composition — Lloyd cells, probes, codebook,
    * per-cell encode, LUT, ADC ranking. */
  val qEmbedIvfPq: Q = Q(
    "q_embed_ivfpq",
    (spark, dir) =>
      // consumes the IVF artifact (built/priced by q_embed_ivf_refined,
      // lazily rebuilt here only if absent) — searches must not re-pay
      // the offline index build
      Similarity.ivfPqSearch(
        graft.operators.IvfArtifact.centroids(spark, dir, 8, 2),
        graft.operators.IvfArtifact.inverted(spark, dir, 8, 2),
        qMinId = 8, qMaxId = 16, k = 3, probes = 2),
    Some(s"""
      WITH ${lloydCte(8, 2)},
      final_asg AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
          FROM embeddings e, cents2 c)
        WHERE rn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
            WHERE vec_id >= 8 AND vec_id < 16),
      probed AS (
        SELECT qid, cell FROM (
          SELECT q.qid, c.cell,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${cosOf("q.qvec", "c.cvec")} DESC, c.cell) AS rn
          FROM q, cents2 c)
        WHERE rn <= 2),
      subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
      cb AS (
        SELECT s.sub, CAST(e.vec_id AS INT) AS cidx,
               [e.embedding[i] FOR i IN generate_series(s.sub * 8 + 1, s.sub * 8 + 8)] AS cvec
        FROM embeddings e, subs s WHERE e.vec_id < 16),
      encd AS (
        SELECT vec_id, cell, sub, cidx AS code FROM (
          SELECT e.vec_id, a.cell, c.sub, c.cidx,
                 row_number() OVER (PARTITION BY e.vec_id, c.sub ORDER BY
                   list_sum([(e.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                             * (e.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                             FOR i IN generate_series(1, 8)]), c.cidx) AS rn
          FROM embeddings e JOIN final_asg a USING (vec_id), cb c
          WHERE e.vec_id < 8 OR e.vec_id >= 16)
        WHERE rn = 1),
      lut AS (
        SELECT q.qid, c.sub, c.cidx,
               CAST(floor(list_sum([(q.qvec[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                                    * (q.qvec[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                                    FOR i IN generate_series(1, 8)]) * 1000000000 + 0.5)
                    AS BIGINT) AS d_int
        FROM q, cb c),
      scored AS (
        SELECT l.qid, e.vec_id, CAST(sum(l.d_int) AS BIGINT) AS adc
        FROM encd e
        JOIN probed p ON e.cell = p.cell
        JOIN lut l ON l.qid = p.qid AND l.sub = e.sub AND l.cidx = e.code
        GROUP BY l.qid, e.vec_id),
      r AS (
        SELECT qid, vec_id, adc,
               row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rnk
        FROM scored)
      SELECT qid, vec_id, adc, CAST(rnk AS INT) AS rnk
      FROM r WHERE rnk <= 3 ORDER BY qid, rnk
    """.trim))

  /** Reciprocal-rank fusion — the hybrid-retrieval merge every RAG
    * stack runs: two independent rankings of the same candidates
    * (lexical tf-idf cosine and 5-gram shingle Jaccard here; in
    * production, BM25 and an embedding ANN) fuse by score =
    * Σ 1/(60+rankᵢ), which rewards agreement without having to
    * calibrate the two score scales against each other. Both signal
    * pipelines keep the QUERY SIDE of the pair join restricted to the
    * 50 probe docs, so candidate generation is (probes × postings),
    * never all-pairs; each signal keeps its top-20, the fusion is a
    * full outer join of two 200-row lists, and every fused score is
    * an exact integer micro sum (1000000 div (60+rank)), so the final
    * ranking is engine-exact. Jaccard ranks on exact inter/union
    * micros; the cosine leg CONSUMES the materialized term index
    * ([[graft.operators.TermIndexArtifact]], built by
    * `q_text_cosine_knn`) instead of rebuilding the df-capped posting
    * list — half this query's former cost was that rebuild. */
  val qRankFusion: Q = Q(
    "q_rank_fusion",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, dir)
      // leg 1: tf-idf cosine, probe docs vs corpus — postings/norms
      // come from the materialized term index (built once by
      // q_text_cosine_knn, lazily rebuilt here if absent)
      val kept = graft.operators.TermIndexArtifact.kept(spark, dir)
      val norms = graft.operators.TermIndexArtifact.norms(spark, dir)
      // probe side is 50 docs → broadcast it: candidate generation
      // streams the corpus postings map-side, no pair-join shuffle
      val cosRanked = broadcast(kept.filter(col("doc_id") < 50)).as("a")
        .join(kept.as("b"),
          col("a.term") === col("b.term") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("qid"), col("b.doc_id").as("neighbor"))
        .agg(sum(col("a.w") * col("b.w")).as("dot"))
        .join(norms.select(col("doc_id").as("qid"), col("nrm").as("na")),
          "qid")
        .join(norms.select(col("doc_id").as("neighbor"), col("nrm").as("nb")),
          "neighbor")
        .select(col("qid"), col("neighbor"),
          round(col("dot").cast("double")
            / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
            6).as("cos"))
        .withColumn("r_cos", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("neighbor"))))
        .filter(col("r_cos") <= 20)
        .select(col("qid"), col("neighbor"), col("r_cos"))
      // leg 2: shingle Jaccard, probe docs vs corpus. Per-doc shingles
      // dedup IN-ROW (array_distinct before the explode) — the (doc,
      // shingle) stream is distinct by construction, so the former
      // corpus-wide .distinct() shuffle disappears entirely; per-doc
      // set sizes come off the same in-row expression without any
      // explode. The 50-doc probe side broadcasts, so candidate
      // generation has NO shuffle — the corpus shingle stream is
      // consumed map-side.
      val shSets = docs.select(col("doc_id"),
        array_distinct(graft.operators.TextAnalysis.shingles(col("text")))
          .as("shs"))
      // set size computed BELOW the explode (per doc, not per shingle
      // row — the Project-above-Generate re-evaluation pitfall), then
      // carried through as a plain attribute: the pair aggregate keys
      // on it, so no per-doc size join is needed at all
      val sh = shSets
        .select(col("doc_id"), col("shs"), size(col("shs")).cast("long").as("sz"))
        .select(col("doc_id"), col("sz"), explode(col("shs")).as("sh"))
      val jacRanked = broadcast(sh.filter(col("doc_id") < 50)).as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("qid"), col("b.doc_id").as("neighbor"),
          col("a.sz").as("sa"), col("b.sz").as("sb"))
        .agg(count(lit(1)).as("inter"))
        .select(col("qid"), col("neighbor"),
          expr("inter * 1000000 div (sa + sb - inter)").as("jac_micro"))
        .withColumn("r_jac", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("jac_micro").desc, col("neighbor"))))
        .filter(col("r_jac") <= 20)
        .select(col("qid"), col("neighbor"), col("r_jac"))
      // fuse: RRF with k=60, exact integer micros
      val fused = cosRanked.join(jacRanked, Seq("qid", "neighbor"), "full")
        .select(col("qid"), col("neighbor"),
          (coalesce(expr("1000000 div (60 + r_cos)"), lit(0L))
            + coalesce(expr("1000000 div (60 + r_jac)"), lit(0L)))
            .as("fused_micro"),
          col("r_cos").cast("long").as("r_cos"),
          col("r_jac").cast("long").as("r_jac"))
      fused
        .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("fused_micro").desc, col("neighbor"))))
        .filter(col("rnk") <= 5)
        .select(col("qid").as("doc_id"), col("rnk").cast("long").as("rnk"),
          col("neighbor"), col("fused_micro"), col("r_cos"), col("r_jac"))
        .orderBy(col("doc_id"), col("rnk"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      s AS (SELECT count(*) AS nd FROM documents),
      kept AS (
        SELECT t.doc_id, t.term, (t.tf * s.nd) // d.df AS w
        FROM tf t JOIN dft d USING (term) CROSS JOIN s
        WHERE d.df * 10 <= s.nd),
      norms AS (SELECT doc_id, sum(w * w) AS nrm FROM kept GROUP BY 1),
      cdots AS (
        SELECT a.doc_id AS qid, b.doc_id AS neighbor, sum(a.w * b.w) AS dot
        FROM kept a JOIN kept b
          ON a.term = b.term AND a.doc_id <> b.doc_id
        WHERE a.doc_id < 50 GROUP BY 1, 2),
      cosr AS (
        SELECT qid, neighbor,
               row_number() OVER (PARTITION BY qid
                 ORDER BY round(CAST(dot AS DOUBLE)
                   / (sqrt(CAST(na.nrm AS DOUBLE))
                     * sqrt(CAST(nb.nrm AS DOUBLE))), 6) DESC, neighbor)
                 AS r_cos
        FROM cdots
        JOIN norms na ON na.doc_id = qid
        JOIN norms nb ON nb.doc_id = neighbor),
      ckept AS (SELECT qid, neighbor, r_cos FROM cosr WHERE r_cos <= 20),
      tl AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS tl FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest([array_to_string(tl[i:i+4], ' ')
                       FOR i IN generate_series(1, len(tl) - 4)]) AS sh
        FROM tl WHERE len(tl) >= 5),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      jdots AS (
        SELECT a.doc_id AS qid, b.doc_id AS neighbor, count(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        WHERE a.doc_id < 50 GROUP BY 1, 2),
      jacr AS (
        SELECT qid, neighbor,
               row_number() OVER (PARTITION BY qid
                 ORDER BY inter * 1000000 // (sa.sz + sb.sz - inter) DESC,
                   neighbor) AS r_jac
        FROM jdots
        JOIN sizes sa ON sa.doc_id = qid
        JOIN sizes sb ON sb.doc_id = neighbor),
      jkept AS (SELECT qid, neighbor, r_jac FROM jacr WHERE r_jac <= 20),
      fused AS (
        SELECT coalesce(c.qid, j.qid) AS qid,
               coalesce(c.neighbor, j.neighbor) AS neighbor,
               coalesce(1000000 // (60 + c.r_cos), 0)
                 + coalesce(1000000 // (60 + j.r_jac), 0) AS fused_micro,
               CAST(c.r_cos AS BIGINT) AS r_cos,
               CAST(j.r_jac AS BIGINT) AS r_jac
        FROM ckept c FULL OUTER JOIN jkept j
          ON c.qid = j.qid AND c.neighbor = j.neighbor),
      r AS (
        SELECT qid, neighbor, fused_micro, r_cos, r_jac,
               row_number() OVER (PARTITION BY qid
                 ORDER BY fused_micro DESC, neighbor) AS rnk
        FROM fused)
      SELECT qid AS doc_id, CAST(rnk AS BIGINT) AS rnk, neighbor,
             CAST(fused_micro AS BIGINT) AS fused_micro, r_cos, r_jac
      FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk
    """.trim))

  /** Effective rank (participation ratio) of the embedding covariance
    * — the representation-collapse diagnostic: PR = (tr C)²/tr(C²)
    * reads 1.0 when every vector lies on one line and d when variance
    * spreads isotropically, WITHOUT any eigendecomposition or
    * iteration. Components quantize to integer micros (the engine's
    * standard float-exactness contract); ONE fused
    * [[graft.functions.VectorCoMomentAgg]] pass accumulates the count,
    * the d first moments and the d(d+1)/2 co-moment sums in a flat
    * Long buffer (each map task emits one buffer — no per-row struct
    * materialization, shuffle volume d² per task), and the centered
    * co-moments N·Sᵢⱼ − SᵢSⱼ divide down from 128-bit to BIGINT
    * before squaring back into 128-bit — every number until the final
    * PR ratio is an exact integer. One corpus scan; the matrix
    * algebra runs on d², never N. */
  val qEmbedEffRank: Q = Q(
    "q_embed_effrank",
    (spark, dir) => {
      val cm = Tables.embeddings(spark, dir)
        .select(expr("transform(embedding, v -> " +
          "cast(floor(cast(v as double) * 1000000.0 + 0.5) as bigint))")
          .as("qv"))
        .agg(graft.functions.VectorCoMomentAgg(col("qv"), 64).as("cm"))
      val mm = cm
        .select(col("cm.n").as("n"), col("cm.s").as("s"),
          explode(col("cm.pairs")).as("p"))
        .select(col("n"), col("p.i").as("i"), col("p.j").as("j"),
          expr("cast((cast(n as decimal(38,0)) * p.s_ij" +
            " - cast(s[p.i] as decimal(38,0)) * s[p.j]) div n as bigint)")
            .as("m"))
      val d = 64
      mm
        .groupBy(col("n"))
        .agg(
          sum(when(col("i") === col("j"), col("m")).otherwise(0L)).as("tr"),
          sum(when(col("i") === col("j"),
            col("m").cast("decimal(19,0)") * col("m"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("d2"),
          sum(when(col("i") =!= col("j"),
            col("m").cast("decimal(19,0)") * col("m"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("o2"))
        .select(col("n").as("n_vectors"), lit(d.toLong).as("d"), col("tr"),
          floor(col("tr").cast("double") * col("tr")
            / (col("d2") + lit(2) * col("o2")).cast("double") * lit(1000))
            .cast("long").as("eff_rank_milli"),
          floor(col("tr").cast("double") * col("tr")
            / (col("d2") + lit(2) * col("o2")).cast("double") / lit(d)
            * lit(1000)).cast("long").as("eff_rank_share_milli"))
    },
    Some("""
      WITH q AS (
        SELECT [CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                FOR v IN embedding] AS qv
        FROM embeddings),
      nn AS (SELECT count(*) AS n FROM q),
      idx AS (SELECT unnest(generate_series(0, 63)) AS i),
      m1 AS (
        SELECT i, CAST(sum(qv[i + 1]) AS BIGINT) AS s_i
        FROM q, idx GROUP BY i),
      pidx AS (
        SELECT a.i, b.i AS j FROM idx a, idx b WHERE a.i <= b.i),
      m2 AS (
        SELECT i, j, CAST(sum(qv[i + 1] * qv[j + 1]) AS BIGINT) AS s_ij
        FROM q, pidx GROUP BY i, j),
      mm AS (
        SELECT m2.i, m2.j,
               CAST((nn.n * CAST(s_ij AS HUGEINT)
                 - CAST(si.s_i AS HUGEINT) * sj.s_i) // nn.n AS BIGINT) AS m
        FROM m2
        JOIN m1 si ON si.i = m2.i
        JOIN m1 sj ON sj.i = m2.j, nn),
      agg AS (
        SELECT CAST(sum(CASE WHEN i = j THEN m ELSE 0 END) AS BIGINT) AS tr,
               sum(CASE WHEN i = j THEN CAST(m AS HUGEINT) * m
                   ELSE 0 END) AS d2,
               sum(CASE WHEN i <> j THEN CAST(m AS HUGEINT) * m
                   ELSE 0 END) AS o2
        FROM mm)
      SELECT (SELECT n FROM nn) AS n_vectors, CAST(64 AS BIGINT) AS d, tr,
             CAST(floor(CAST(tr AS DOUBLE) * tr
               / CAST(d2 + 2 * o2 AS DOUBLE) * 1000) AS BIGINT)
               AS eff_rank_milli,
             CAST(floor(CAST(tr AS DOUBLE) * tr
               / CAST(d2 + 2 * o2 AS DOUBLE) / 64 * 1000) AS BIGINT)
               AS eff_rank_share_milli
      FROM agg
    """.trim))

  /** Hubness audit of the ANN graph — the k-NN pathology gauge: in
    * high dimensions a few "hub" vectors appear in a huge share of
    * other points' top-k lists (and "anti-hubs" in none), silently
    * skewing retrieval, dedup, and hard-negative mining. The query
    * builds the directed cell-blocked 5-NN graph over the
    * MATERIALIZED IVF index (same-cell candidates only — the exact
    * candidate set the production searcher scores, so the hub report
    * describes the index actually served) and reports the 10 most
    * in-linked vectors. Pair cost is bounded by cell occupancy
    * (Σ|cell|², never corpus²); both cuts are native bounded-top-k
    * aggregates (per-query 5-NN, then global top-10 by in-degree) —
    * no corpus-wide window sort anywhere; ids tie-break through
    * zero-padded strings so lexicographic = numeric. */
  val qEmbedHubness: Q = Q(
    "q_embed_hubness",
    (spark, dir) => {
      import graft.functions.VectorExpressions.floatDot
      val inv = graft.operators.IvfArtifact.inverted(spark, dir, 8, 2)
      val a = inv.select(col("cell"), col("vec_id").as("qa"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = inv.select(col("cell"), col("vec_id").as("vb"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val top5 = a.join(b, Seq("cell")).filter(col("qa") =!= col("vb"))
        .select(col("qa"),
          lpad(col("vb").cast("string"), 8, "0").as("vbs"),
          floor(round(floatDot(col("ea"), col("eb"))
            / (col("na") * col("nb")), 6) * lit(1000000) + lit(0.5))
            .cast("long").as("cos_micro"))
        .groupBy(col("qa"))
        .agg(graft.functions.TopKLongAgg(col("cos_micro"), col("vbs"), 5)
          .as("top"))
        .select(explode(expr("transform(top, x -> x.item)")).as("vbs"))
      top5.groupBy(col("vbs")).agg(count(lit(1)).as("in_degree"))
        .agg(graft.functions.TopKLongAgg(col("in_degree"), col("vbs"), 10)
          .as("top"))
        .select(posexplode(col("top")).as(Seq("p", "e")))
        .select((col("p") + 1).cast("int").as("rnk"),
          col("e.item").cast("bigint").as("vec_id"),
          col("e.score").as("in_degree"))
        .orderBy(col("rnk"))
    },
    Some(s"""
      WITH ${lloydCte(8, 2)},
      final_asg AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
          FROM embeddings e, cents2 c)
        WHERE rn = 1),
      cand AS (
        SELECT a.vec_id AS qa, b.vec_id AS vb,
               CAST(floor(${cosOf("ea.embedding", "eb.embedding")} * 1000000
                 + 0.5) AS BIGINT) AS cos_micro
        FROM final_asg a
        JOIN final_asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id),
      top5 AS (
        SELECT qa, vb FROM (
          SELECT qa, vb,
                 row_number() OVER (PARTITION BY qa
                   ORDER BY cos_micro DESC,
                            lpad(CAST(vb AS VARCHAR), 8, '0')) AS rn
          FROM cand)
        WHERE rn <= 5),
      deg AS (
        SELECT vb AS vec_id, CAST(count(*) AS BIGINT) AS in_degree
        FROM top5 GROUP BY vb)
      SELECT CAST(rn AS INT) AS rnk, vec_id, in_degree FROM (
        SELECT vec_id, in_degree,
               row_number() OVER (ORDER BY in_degree DESC,
                 lpad(CAST(vec_id AS VARCHAR), 8, '0')) AS rn
        FROM deg)
      WHERE rn <= 10 ORDER BY rnk
    """.trim))

  /** Dominant principal direction of the embedding covariance by
    * DETERMINISTIC INTEGER POWER ITERATION — the anisotropy /
    * rogue-dimension diagnostic that complements `q_embed_effrank`:
    * effrank says HOW MANY directions carry variance, this says which
    * single direction dominates and which coordinates load it (the
    * classic "one outlier dimension eats the cosine" pathology).
    *
    * The distributed part is ONE fused [[graft.functions.VectorCoMomentAgg]]
    * pass (identical to effrank's — count, first moments, upper-triangle
    * co-moments in a flat Long buffer; shuffle volume d² per map task,
    * never N). Everything after runs IN-ROW on the single aggregated
    * row: the full d×d covariance (per-vector scale, `div n div n`, so
    * cell magnitude is independent of corpus size) is laid out as a
    * d²-long array, and 8 power-iteration steps chain as one-row
    * projections — each step an exact integer matvec (BIGINT-safe by
    * construction: |c|·|v| ≤ ~2⁶³/64) followed by max-|component|
    * renormalization to ±10⁶ through one shared double expression
    * (identical tree both engines). No joins, no shuffles, no driver
    * collect; the Rayleigh quotient numerator accumulates in
    * decimal(38,0)/HUGEINT. Output: the top-5 |loading| coordinates of
    * the converged direction plus PC1's explained-variance share of
    * the trace in exact ppm. The oracle unrolls the identical 8 steps
    * as generated CTEs (`AS MATERIALIZED` — DuckDB's default CTE
    * inlining re-derives `cells` through every step and the replay
    * goes exponential), so the whole iteration is cross-checked
    * bit-for-bit. */
  val qEmbedPc1: Q = {
    val d = 64
    val iters = 8
    val iterCtes = (1 to iters).map { t =>
      s"""u$t AS MATERIALIZED (
        SELECT c.i, CAST(sum(c.c * p.v) AS BIGINT) AS u
        FROM cells c JOIN v${t - 1} p ON c.j = p.i GROUP BY c.i),
      mx$t AS MATERIALIZED (
        SELECT greatest(max(abs(u)), CAST(1 AS BIGINT)) AS mx FROM u$t),
      v$t AS MATERIALIZED (
        SELECT i, CAST(floor(CAST(u AS DOUBLE) * 1000000.0
          / CAST(mx AS DOUBLE)) AS BIGINT) AS v
        FROM u$t, mx$t)"""
    }.mkString(",\n      ")
    Q(
      "q_embed_pc1",
      (spark, dir) => {
        val cm = Tables.embeddings(spark, dir)
          .select(expr("transform(embedding, v -> " +
            "cast(floor(cast(v as double) * 1000000.0 + 0.5) as bigint))")
            .as("qv"))
          .agg(graft.functions.VectorCoMomentAgg(col("qv"), d).as("cm"))
        // full symmetric covariance as a d²-long array in PER-VECTOR
        // scale (div n div n): cell magnitude is bounded by the
        // micro-quantized component range alone (≤10¹² for unit-norm
        // corpora), independent of corpus size — which is what makes
        // the matvec below BIGINT-safe at any N.
        val a = s"least(k div $d, k % $d)"
        val b = s"greatest(k div $d, k % $d)"
        val cellsExpr =
          s"""transform(sequence(0, ${d * d - 1}), k ->
             |  cast((cast(cm.n as decimal(38,0))
             |        * cm.pairs[$a * $d - ($a * ($a - 1)) div 2 + $b - $a].s_ij
             |      - cast(cm.s[k div $d] as decimal(38,0)) * cm.s[k % $d])
             |      div cm.n div cm.n as bigint))""".stripMargin
        // The 8 iterations run inside ONE native expression
        // ([[graft.functions.PowerIterationTop]]) on the single
        // aggregated covariance row — an equivalent chain of one-row
        // DataFrame projections either explodes under CollapseProject
        // (the plan tree doubles per step) or pays a persist barrier
        // per step (16 scheduler round-trips); the expression is
        // O(T·d²) scalar work evaluated once.
        // ONE eager 1-row persist between binding (c, v) and the
        // consuming aggregates: without it CollapseProject inlines the
        // 4096-cell decimal transform into every element access of the
        // final aggregate lambdas — each of the 4096 accumulator steps
        // then re-evaluates the whole cell array (~17M interpreted
        // decimal ops, measured ~1.3 s). Against the materialized row
        // the final pass is 3 array scans. The harness cache contract
        // (Registry.Q scaladoc) reclaims the cached row.
        val it = cm.select(col("cm.n").as("n"), expr(cellsExpr).as("c"))
          .select(col("n"), col("c"),
            graft.functions.VectorExpressions
              .powerIterationTop(col("c"), d, iters).as("v"))
        it.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        it.count()
        val fin = it.select(col("n"), col("v"),
          expr(s"""aggregate(sequence(0, ${d * d - 1}),
               |  cast(0 as decimal(38,0)),
               |  (acc, k) -> acc + cast(v[k div $d] as decimal(38,0))
               |    * c[k] * v[k % $d])""".stripMargin).as("num"),
          expr("aggregate(v, cast(0 as bigint)," +
            " (acc, x) -> acc + x * x)").as("den"),
          expr(s"aggregate(sequence(0, ${d - 1}), cast(0 as bigint)," +
            s" (acc, i) -> acc + c[i * $d + i])").as("tr"))
        fin
          .select(col("n").as("n_vectors"),
            expr("cast((num div den) * 1000000 div tr as bigint)")
              .as("pc1_share_ppm"),
            expr(s"""slice(array_sort(transform(sequence(0, ${d - 1}),
                 |  i -> struct(-abs(v[i]) AS negabs, i AS dim,
                 |              v[i] AS loading))), 1, 5)""".stripMargin)
              .as("top"))
          .select(col("n_vectors"), col("pc1_share_ppm"),
            posexplode(col("top")).as(Seq("p", "e")))
          .select((col("p") + 1).cast("int").as("rnk"),
            col("e.dim").cast("int").as("dim"),
            col("e.loading").as("loading_micro"),
            col("pc1_share_ppm"), col("n_vectors"))
          .orderBy(col("rnk"))
      },
      Some(s"""
      WITH q AS MATERIALIZED (
        SELECT [CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                FOR v IN embedding] AS qv
        FROM embeddings),
      nn AS (SELECT count(*) AS n FROM q),
      idx AS (SELECT unnest(generate_series(0, ${d - 1})) AS i),
      m1 AS MATERIALIZED (
        SELECT i, CAST(sum(qv[i + 1]) AS BIGINT) AS s_i
        FROM q, idx GROUP BY i),
      pidx AS (SELECT a.i AS i, b.i AS j FROM idx a, idx b),
      m2 AS MATERIALIZED (
        SELECT i, j, CAST(sum(qv[i + 1] * qv[j + 1]) AS BIGINT) AS s_ij
        FROM q, pidx GROUP BY i, j),
      cells AS MATERIALIZED (
        SELECT m2.i, m2.j,
               CAST((nn.n * CAST(s_ij AS HUGEINT)
                 - CAST(si.s_i AS HUGEINT) * sj.s_i) // nn.n // nn.n
                 AS BIGINT) AS c
        FROM m2
        JOIN m1 si ON si.i = m2.i
        JOIN m1 sj ON sj.i = m2.j, nn),
      v0 AS (SELECT i, CAST(1000000 AS BIGINT) AS v FROM idx),
      $iterCtes,
      num AS MATERIALIZED (
        SELECT CAST(sum(CAST(va.v AS HUGEINT) * c.c * vb.v) AS HUGEINT)
          AS num
        FROM cells c
        JOIN v$iters va ON va.i = c.i
        JOIN v$iters vb ON vb.i = c.j),
      den AS (SELECT CAST(sum(v * v) AS BIGINT) AS den FROM v$iters),
      tr AS (SELECT CAST(sum(c) AS BIGINT) AS tr FROM cells WHERE i = j),
      ranked AS MATERIALIZED (
        SELECT i AS dim, v AS loading_micro,
               row_number() OVER (ORDER BY abs(v) DESC, i) AS rn
        FROM v$iters)
      SELECT CAST(rn AS INT) AS rnk, CAST(dim AS INT) AS dim,
             loading_micro,
             CAST((num.num // den.den) * 1000000 // tr.tr AS BIGINT)
               AS pc1_share_ppm,
             (SELECT n FROM nn) AS n_vectors
      FROM ranked, num, den, tr
      WHERE rn <= 5 ORDER BY rnk
    """.trim))
  }

  /** Fisher discriminant ratio per embedding dimension — which
    * coordinates actually separate the labels: F = between-class
    * variance / within-class variance, the classical filter
    * feature-selection score (and, read across all dims, a
    * linear-probe-without-training signal of label information in the
    * representation). Per-(label, dim) moments are one aggregate over
    * quantized integer components; each label's between/within term
    * is individually floored off exact integers (order-independent
    * sums, the nano contract), and the final ratio is one shared
    * double division. The report is the top-10 dims — a 64-row sort.
    * B·1000 would overflow BIGINT at larger corpora, so the ratio
    * divides in doubles derived from the exact integer B and W. */
  val qEmbedFisher: Q = Q(
    "q_embed_fisher",
    (spark, dir) => {
      val q = Tables.embeddings(spark, dir)
        .select(col("label").cast("long").as("label"),
          expr("transform(embedding, v -> " +
            "cast(floor(cast(v as double) * 1000000.0 + 0.5) as bigint))")
            .as("qv"))
      val cell = q.select(col("label"), posexplode(col("qv")).as(Seq("i", "x")))
        .groupBy(col("label"), col("i"))
        .agg(count(lit(1)).as("n_l"), sum(col("x")).as("s_l"),
          sum(col("x") * col("x")).as("ss_l"))
      val glob = cell.groupBy(col("i"))
        .agg(sum(col("n_l")).as("n"), sum(col("s_l")).as("s"))
      cell.join(broadcast(glob), "i")
        .select(col("i"),
          floor(col("n_l") * (col("s_l").cast("double") / col("n_l")
            - col("s").cast("double") / col("n"))
            * (col("s_l").cast("double") / col("n_l")
              - col("s").cast("double") / col("n"))).cast("long").as("b_t"),
          floor(col("ss_l").cast("double")
            - col("s_l").cast("double") * col("s_l") / col("n_l"))
            .cast("long").as("w_t"))
        .groupBy(col("i"))
        .agg(sum(col("b_t")).as("b"), sum(col("w_t")).as("w"))
        .select(col("i").cast("long").as("dim"), col("b"), col("w"),
          floor(col("b").cast("double") / col("w") * lit(1000)).cast("long")
            .as("fisher_milli"))
        .orderBy(col("fisher_milli").desc, col("dim"))
        .limit(10)
    },
    Some("""
      WITH q AS (
        SELECT label,
               [CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                FOR v IN embedding] AS qv
        FROM embeddings),
      idx AS (SELECT unnest(generate_series(0, 63)) AS i),
      cell AS (
        SELECT label, i, count(*) AS n_l,
               CAST(sum(qv[i + 1]) AS BIGINT) AS s_l,
               CAST(sum(qv[i + 1] * qv[i + 1]) AS BIGINT) AS ss_l
        FROM q, idx GROUP BY label, i),
      gm AS (
        SELECT i, CAST(sum(n_l) AS BIGINT) AS n,
               CAST(sum(s_l) AS BIGINT) AS s
        FROM cell GROUP BY i),
      terms AS (
        SELECT c.i,
               CAST(floor(c.n_l * (CAST(c.s_l AS DOUBLE) / c.n_l
                   - CAST(g.s AS DOUBLE) / g.n)
                 * (CAST(c.s_l AS DOUBLE) / c.n_l
                   - CAST(g.s AS DOUBLE) / g.n)) AS BIGINT) AS b_t,
               CAST(floor(CAST(c.ss_l AS DOUBLE)
                 - CAST(c.s_l AS DOUBLE) * c.s_l / c.n_l) AS BIGINT) AS w_t
        FROM cell c JOIN gm g USING (i)),
      f AS (
        SELECT i, CAST(sum(b_t) AS BIGINT) AS b,
               CAST(sum(w_t) AS BIGINT) AS w
        FROM terms GROUP BY i)
      SELECT CAST(i AS BIGINT) AS dim, b, w,
             CAST(floor(CAST(b AS DOUBLE) / w * 1000) AS BIGINT)
               AS fisher_milli
      FROM f ORDER BY fisher_milli DESC, dim LIMIT 10
    """.trim))

  /** Isotropy audit of the embedding space — the two classic
    * "all-but-the-top" pathologies (Mu & Viswanath 2018) in one exact
    * pass: (a) ANISOTROPY — the max/min per-coordinate variance ratio
    * (a healthy random-projection space is ~1; one rogue dimension
    * hoarding variance inflates it and silently dominates every
    * cosine); (b) MEAN-VECTOR ENERGY — the share of total second
    * moment captured by the non-zero common mean (embeddings from one
    * encoder all share a large offset vector; cosine similarity then
    * measures the offset, not the content). Complements
    * `q_embed_effrank` (how many directions) and `q_embed_pc1` (which
    * direction): this is the cheapest gate of the three and the one a
    * pipeline checks first.
    *
    * The distributed part is the SAME single fused
    * [[graft.functions.VectorCoMomentAgg]] pass the effrank/pc1
    * gauges use (one d(d+1)/2-cell buffer per map task, shuffle
    * volume d², never N); only the d diagonal cells are consumed.
    * All arithmetic is exact: per-coordinate co-moments
    * m_i = (n·Σx² − (Σx)²) div n in BIGINT (non-negative by
    * Cauchy-Schwarz, so truncating div agrees across engines), the
    * squared-mean energy in decimal(38,0)/HUGEINT — replayed
    * bit-for-bit by the oracle. */
  val qEmbedIsotropy: Q = Q(
    "q_embed_isotropy",
    (spark, dir) => {
      val cm = Tables.embeddings(spark, dir)
        .select(expr("transform(embedding, v -> " +
          "cast(floor(cast(v as double) * 1000000.0 + 0.5) as bigint))")
          .as("qv"))
        .agg(graft.functions.VectorCoMomentAgg(col("qv"), 64).as("cm"))
      val diag = cm
        .select(col("cm.n").as("n"), col("cm.s").as("s"),
          explode(col("cm.pairs")).as("p"))
        .filter(col("p.i") === col("p.j"))
        .select(col("n"),
          expr("cast((cast(n as decimal(38,0)) * p.s_ij" +
            " - cast(s[p.i] as decimal(38,0)) * s[p.i]) div n as bigint)")
            .as("m"),
          expr("cast(s[p.i] as decimal(38,0)) * s[p.i]").as("s2"))
      diag.groupBy(col("n"))
        .agg(min(col("m")).as("vmin"), max(col("m")).as("vmax"),
          sum(col("m").cast("decimal(38,0)")).as("tr"),
          sum(col("s2")).as("mu2"))
        .select(col("n").as("n_vectors"), lit(64L).as("d"),
          col("vmin").as("var_min"), col("vmax").as("var_max"),
          expr("cast((cast(vmax as decimal(38,0)) * 1000)" +
            " div greatest(vmin, cast(1 as bigint)) as bigint)")
            .as("anisotropy_milli"),
          expr("cast((mu2 * 1000)" +
            " div (mu2 + cast(n as decimal(38,0)) * tr) as bigint)")
            .as("mean_energy_milli"))
    },
    Some("""
      WITH q AS (
        SELECT [CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                FOR v IN embedding] AS qv
        FROM embeddings),
      nn AS (SELECT count(*) AS n FROM q),
      idx AS (SELECT unnest(generate_series(0, 63)) AS i),
      m1 AS (
        SELECT i, CAST(sum(qv[i + 1]) AS BIGINT) AS s_i,
               CAST(sum(qv[i + 1] * qv[i + 1]) AS BIGINT) AS s_ii
        FROM q, idx GROUP BY i),
      mm AS (
        SELECT i,
               CAST((nn.n * CAST(s_ii AS HUGEINT)
                 - CAST(s_i AS HUGEINT) * s_i) // nn.n AS BIGINT) AS m,
               CAST(s_i AS HUGEINT) * s_i AS s2
        FROM m1, nn),
      agg AS (
        SELECT min(m) AS vmin, max(m) AS vmax,
               sum(CAST(m AS HUGEINT)) AS tr, sum(s2) AS mu2
        FROM mm)
      SELECT (SELECT n FROM nn) AS n_vectors, CAST(64 AS BIGINT) AS d,
             vmin AS var_min, vmax AS var_max,
             CAST((CAST(vmax AS HUGEINT) * 1000) // greatest(vmin, 1)
               AS BIGINT) AS anisotropy_milli,
             CAST((mu2 * 1000) // (mu2 + (SELECT n FROM nn) * tr)
               AS BIGINT) AS mean_energy_milli
      FROM agg
    """.trim))

  /** Farthest-point (Gonzalez k-center) coreset selection — the
    * deterministic diversity sampler a curation pipeline uses to pick
    * a small maximally-spread subset of a huge embedding corpus
    * (coreset for data pruning, seed set for clustering, eval-probe
    * selection). Greedy: seed with the max-norm vector, then 7 rounds
    * of "add the vector farthest from everything selected so far".
    * The emitted d2 sequence is the coverage-radius curve (weakly
    * decreasing — round r's radius bounds how far ANY corpus point is
    * from the first r centers, the classic 2-approximation
    * guarantee).
    *
    * Scale shape: k passes, each ONE corpus scan with the selected
    * centers inlined as an O(k·d) literal — min-distance computed
    * in-row (`zip_with`/`aggregate` over the quantized arrays, exact
    * BIGINT), collapsed map-side by a bounded `max_by` aggregate, so
    * shuffle volume per round is one struct per partition. No N×N
    * pairs, no window sort. The only driver-side state is the k
    * winner rows themselves — the algorithm's OUTPUT is a k-row set,
    * the same shape MLlib's KMeans collects per iteration; chaining
    * the rounds as lazy DataFrames instead nests each round's plan
    * inside the next and the logical plan grows 2^k (it OOM'd the
    * driver long before the data mattered). The oracle unrolls the
    * identical 8 greedy steps as MATERIALIZED CTEs (argmax = ORDER BY
    * mind DESC, vec_id LIMIT 1 — exact integer distances make the
    * tie-break total). */
  val qEmbedCoreset: Q = {
    val iterCtes = (1 to 7).map { r =>
      s"""r$r AS MATERIALIZED (
        SELECT q.vec_id, q.qv,
               min(CAST(list_sum([(q.qv[i] - s.qv[i]) * (q.qv[i] - s.qv[i])
                    FOR i IN generate_series(1, 64)]) AS BIGINT)) AS mind
        FROM q, s${r - 1} s GROUP BY q.vec_id, q.qv),
      c$r AS MATERIALIZED (
        SELECT $r AS round, vec_id, qv, mind AS d2
        FROM r$r ORDER BY mind DESC, vec_id LIMIT 1),
      s$r AS MATERIALIZED (
        SELECT vec_id, qv FROM s${r - 1}
        UNION ALL SELECT vec_id, qv FROM c$r)"""
    }.mkString(",\n      ")
    val unionAllCs = (0 to 7)
      .map(r => s"SELECT round, vec_id, d2 FROM c$r")
      .mkString("\n        UNION ALL ")
    Q(
      "q_embed_coreset",
      (spark, dir) => {
        import spark.implicits._
        val qv = Tables.embeddings(spark, dir)
          .select(col("vec_id"),
            expr("transform(embedding, v -> " +
              "cast(floor(cast(v as double) * 1000000.0 + 0.5) as bigint))")
              .as("qv"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val seed = qv
          .select(col("vec_id"), col("qv"),
            expr("aggregate(qv, cast(0 as bigint), (acc, x) -> acc + x * x)")
              .as("crit"))
          .agg(max_by(struct(col("vec_id"), col("qv")),
            struct(col("crit"), -col("vec_id"))).as("c"))
          .select(col("c.vec_id"), col("c.qv")).head()
        var centers = Vector(seed.getSeq[Long](1))
        val out = scala.collection.mutable.ArrayBuffer(
          (0, seed.getLong(0), 0L))
        for (r <- 1 to 7) {
          val w = qv
            .withColumn("cvs", typedLit(centers))
            .select(col("vec_id"), col("qv"),
              expr("array_min(transform(cvs, c -> " +
                "aggregate(zip_with(qv, c, (a, b) -> (a - b) * (a - b))," +
                " cast(0 as bigint), (acc, x) -> acc + x)))").as("mind"))
            .agg(max_by(struct(col("vec_id"), col("qv"), col("mind")),
              struct(col("mind"), -col("vec_id"))).as("c"))
            .select(col("c.vec_id"), col("c.qv"), col("c.mind")).head()
          centers :+= w.getSeq[Long](1)
          out += ((r, w.getLong(0), w.getLong(2)))
        }
        qv.unpersist()
        out.toSeq.toDF("round", "vec_id", "d2").orderBy(col("round"))
      },
      Some(s"""
      WITH q AS (
        SELECT vec_id,
               [CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                FOR v IN embedding] AS qv
        FROM embeddings),
      crit AS (
        SELECT vec_id, qv,
               CAST(list_sum([x * x FOR x IN qv]) AS BIGINT) AS crit
        FROM q),
      c0 AS MATERIALIZED (
        SELECT 0 AS round, vec_id, qv, CAST(0 AS BIGINT) AS d2
        FROM crit ORDER BY crit DESC, vec_id LIMIT 1),
      s0 AS MATERIALIZED (SELECT vec_id, qv FROM c0),
      $iterCtes
      SELECT round, vec_id, d2 FROM (
        $unionAllCs)
      ORDER BY round
    """.trim))
  }

  /** kNN label-noise audit over the materialized IVF cells: each
    * vector's 5 nearest in-cell neighbors vote on its label; per label
    * the audit reports voted vectors, exact integer-milli agreement
    * and the count of majority-disagreement suspects — the
    * re-annotation worklist a labeled corpus runs before distilling a
    * classifier from it. Registered build step of the shared kNN edge
    * table ([[graft.operators.KnnEdgesArtifact]]) — it pays the
    * in-cell pair generation and the parquet write; `q_label_prop`
    * consumes the rank prefix. The oracle replays the Lloyd
    * assignment, the in-cell top-5 and the integer agreement
    * arithmetic. */
  val qEmbedLabelNoise: Q = Q(
    "q_embed_label_noise",
    (spark, dir) => {
      graft.operators.KnnEdgesArtifact.materialize(spark, dir)
      Similarity.labelNoiseAudit(
        graft.operators.KnnEdgesArtifact.edges(spark, dir),
        Tables.embeddings(spark, dir).select(col("vec_id"), col("label")))
    },
    Some(s"""
      WITH ${lloydCte(8, 2)},
      final_asg AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
          FROM embeddings e, cents2 c)
        WHERE rn = 1),
      pairs AS (
        SELECT a.vec_id AS qid, b.vec_id AS vec_id,
               ${cosOf("a.embedding", "b.embedding")} AS cos
        FROM final_asg fa JOIN final_asg fb
          ON fa.cell = fb.cell AND fa.vec_id <> fb.vec_id
        JOIN embeddings a ON a.vec_id = fa.vec_id
        JOIN embeddings b ON b.vec_id = fb.vec_id),
      top AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, vec_id) AS rnk
          FROM pairs)
        WHERE rnk <= 5),
      pv AS (
        SELECT t.qid, eo.label AS own_label,
               CAST(sum(CASE WHEN en.label = eo.label THEN 1 ELSE 0 END)
                 AS BIGINT) AS agree,
               CAST(count(*) AS BIGINT) AS cnt
        FROM top t
        JOIN embeddings en ON en.vec_id = t.vec_id
        JOIN embeddings eo ON eo.vec_id = t.qid
        GROUP BY 1, 2)
      SELECT own_label AS label, count(*) AS n_vectors,
             CAST(sum(agree) * 1000 // sum(cnt) AS BIGINT) AS agreement_milli,
             CAST(sum(CASE WHEN agree * 2 < cnt THEN 1 ELSE 0 END) AS BIGINT)
               AS n_suspect
      FROM pv GROUP BY 1 ORDER BY 1
    """.trim))

  /** Semi-supervised label propagation over the symmetrized rnk<=3
    * prefix of the materialized kNN edge table: 32 seed vectors keep
    * their labels, three synchronous majority-vote rounds assign
    * labels outward (ties → larger count then smaller label; assigned
    * labels never flip), and the output reports seed and final counts
    * per label (−1 = unreached) — the auto-labeling pass that turns a
    * small annotation budget into a corpus-wide weak label table. The
    * oracle unrolls the identical three rounds. */
  val qLabelProp: Q = {
    val roundCtes = (1 to 3).map { r =>
      s"""
      new$r AS (
        SELECT src AS vec_id, nl AS plabel FROM (
          SELECT v.src, v.nl,
                 row_number() OVER (PARTITION BY v.src
                   ORDER BY v.c DESC, v.nl) AS rn
          FROM (SELECT e.src, l.plabel AS nl, count(*) AS c
                FROM edges e
                JOIN lab${r - 1} u ON u.vec_id = e.src AND u.plabel IS NULL
                JOIN lab${r - 1} l ON l.vec_id = e.dst AND l.plabel IS NOT NULL
                GROUP BY 1, 2) v)
        WHERE rn = 1),
      lab$r AS (
        SELECT l.vec_id, coalesce(l.plabel, n.plabel) AS plabel
        FROM lab${r - 1} l LEFT JOIN new$r n USING (vec_id))"""
    }.mkString(",")
    Q(
      "q_label_prop",
      (spark, dir) => Similarity.labelPropagation(
        graft.operators.KnnEdgesArtifact.edges(spark, dir),
        Tables.embeddings(spark, dir).select(col("vec_id"), col("label")),
        kPrefix = 3, seedMaxId = 32, rounds = 3),
      Some(s"""
        WITH ${lloydCte(8, 2)},
        final_asg AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
            FROM embeddings e, cents2 c)
          WHERE rn = 1),
        pairs AS (
          SELECT a.vec_id AS qid, b.vec_id AS vec_id,
                 ${cosOf("a.embedding", "b.embedding")} AS cos
          FROM final_asg fa JOIN final_asg fb
            ON fa.cell = fb.cell AND fa.vec_id <> fb.vec_id
          JOIN embeddings a ON a.vec_id = fa.vec_id
          JOIN embeddings b ON b.vec_id = fb.vec_id),
        top AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY cos DESC, vec_id) AS rnk
            FROM pairs)
          WHERE rnk <= 3),
        edges AS (
          SELECT DISTINCT src, dst FROM (
            SELECT qid AS src, vec_id AS dst FROM top
            UNION ALL
            SELECT vec_id AS src, qid AS dst FROM top)),
        lab0 AS (
          SELECT vec_id, CASE WHEN vec_id < 32 THEN label END AS plabel
          FROM embeddings),
        $roundCtes,
        seeds AS (
          SELECT label, CAST(count(*) AS BIGINT) AS n_seed
          FROM embeddings WHERE vec_id < 32 GROUP BY 1),
        fin AS (
          SELECT coalesce(plabel, -1) AS label,
                 CAST(count(*) AS BIGINT) AS n_final
          FROM lab3 GROUP BY 1)
        SELECT f.label, coalesce(s.n_seed, CAST(0 AS BIGINT)) AS n_seed,
               f.n_final
        FROM fin f LEFT JOIN seeds s USING (label) ORDER BY f.label
      """.trim))
  }

  /** Squared-L2 SQL over two DuckDB list expressions — the replay of
    * the native sequential-fold `FloatL2Sq`. */
  private def l2Of(a: String, b: String): String =
    s"""list_sum([($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE)
       |          FOR i IN generate_series(1, len($a))])""".stripMargin

  /** Alignment & uniformity of the embedding space (Wang & Isola),
    * cell-blocked: one row with the positive-pair mean squared
    * distance and the ln-mean-exp spread gauge — the two numbers that
    * say whether a contrastive embedding is collapsing. The oracle
    * replays the Lloyd cells, the exact double L2 fold, the micro
    * rounding of each exp term and both integer means. */
  val qEmbedAlignUniform: Q = Q(
    "q_embed_align_uniform",
    (spark, dir) => Similarity.alignmentUniformity(
      graft.operators.IvfArtifact.inverted(spark, dir, 8, 2),
      Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))),
    Some(s"""
      WITH ${lloydCte(8, 2)},
      final_asg AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
          FROM embeddings e, cents2 c)
        WHERE rn = 1),
      p AS (
        SELECT ea.label AS la, eb.label AS lb,
               ${l2Of("ea.embedding", "eb.embedding")} AS d2
        FROM final_asg fa JOIN final_asg fb
          ON fa.cell = fb.cell AND fa.vec_id < fb.vec_id
        JOIN embeddings ea ON ea.vec_id = fa.vec_id
        JOIN embeddings eb ON eb.vec_id = fb.vec_id),
      ag AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CAST(floor(exp(d2 * -2.0) * 1000000.0 + 0.5)
                 AS BIGINT)) AS BIGINT) AS u_sum,
               CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pos_pairs,
               CAST(sum(CASE WHEN la = lb
                 THEN CAST(floor(d2 * 1000000000.0 + 0.5) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS a_sum
        FROM p)
      SELECT n_pos_pairs,
             round(CAST(a_sum // n_pos_pairs AS DOUBLE) / 1e9, 6) AS alignment,
             n_pairs,
             round(ln(CAST(u_sum // n_pairs AS DOUBLE) / 1e6), 6) AS uniformity
      FROM ag
    """.trim))

  /** Exact KNN-Shapley data valuation (closed-form sorted-neighbor
    * recursion, K=5) of every training vector against the 8-point eval
    * panel, reported as the top-10 / bottom-10 totals in integer
    * nanos: the engine's data-pruning signal — the bottom tail is the
    * mislabeled/harmful rows, the top tail the high-value core. The
    * oracle replays the ranking, the per-term integer floor, the
    * suffix-sum recursion and both cuts. */
  val qKnnShapley: Q = Q(
    "q_knn_shapley",
    (spark, dir) => Similarity.knnShapley(
      Tables.embeddings(spark, dir), queryMaxId = 8, kNeighbors = 5,
      topN = 10),
    Some(s"""
      WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qvec
                 FROM embeddings WHERE vec_id < 8),
      s AS (
        SELECT q.qid, q.qlabel, e.vec_id, e.label,
               ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM embeddings e, q WHERE e.vec_id >= 8),
      r AS (
        SELECT qid, qlabel, vec_id, label, cos,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, vec_id) AS rnk,
               count(*) OVER (PARTITION BY qid) AS n
        FROM s),
      t AS (
        SELECT qid, vec_id, label, rnk, n,
               CASE WHEN label = qlabel THEN 1 ELSE 0 END AS d
        FROM r),
      u AS (SELECT *, lead(d) OVER (PARTITION BY qid ORDER BY rnk) AS dn
            FROM t),
      v AS (
        SELECT qid, vec_id, label, rnk, n, d,
               CASE WHEN dn IS NULL THEN CAST(0 AS BIGINT)
                    ELSE (CASE WHEN d >= dn THEN 1 ELSE -1 END) *
                         ((abs(d - dn) * least(5, rnk)
                           * CAST(1000000000 AS BIGINT)) // (5 * rnk))
               END AS term
        FROM u),
      w AS (
        SELECT qid, vec_id, label,
               (max(CASE WHEN rnk = n THEN d END) OVER (PARTITION BY qid)
                  * CAST(1000000000 AS BIGINT)) // n
               + sum(term) OVER (PARTITION BY qid ORDER BY rnk
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS val
        FROM v),
      tot AS (
        SELECT vec_id, label, CAST(sum(val) AS BIGINT) AS value_nano
        FROM w GROUP BY 1, 2),
      tb AS (
        SELECT 'top' AS side, rnk, vec_id, label, value_nano FROM (
          SELECT CAST(row_number() OVER (ORDER BY value_nano DESC, vec_id)
                   AS INT) AS rnk, vec_id, label, value_nano
          FROM tot)
        WHERE rnk <= 10
        UNION ALL
        SELECT 'bottom' AS side, rnk, vec_id, label, value_nano FROM (
          SELECT CAST(row_number() OVER (ORDER BY value_nano ASC, vec_id)
                   AS INT) AS rnk, vec_id, label, value_nano
          FROM tot)
        WHERE rnk <= 10)
      SELECT side, rnk, vec_id, label, value_nano
      FROM tb ORDER BY side, rnk
    """.trim))

  /** Graph-based ANN: deterministic fixed-round NN-DESCENT over the
    * materialized kNN-edge artifact ∪ a hash-scatter lattice
    * ([[graft.operators.Similarity.nnDescent]] — see its Scaladoc for
    * why the scattered init is load-bearing). Three refinement
    * rounds at graph degree 10 (consumers read a rank prefix, the
    * artifact convention); the oracle unrolls the identical
    * candidate-propose / exact-score / top-k rounds. Recall@5 ≥ the
    * in-cell graph AND an IVF 2-probe search is pinned in
    * NnDescentSpec; per-round candidates are bounded by N·(2k)². */
  /** Shared WITH-chain body replaying the NN-descent graph build
    * (Lloyd cells -> in-cell top-5 -> scatter init -> 3 rounds), ends
    * at `g3(qid, vec_id, cos, rnk)` — used by the build-step oracle
    * and the beam-search oracle. Every multiply-referenced CTE is
    * MATERIALIZED (DuckDB 1.0 otherwise inlines them exponentially). */
  private val nndGraphCtes: String = {
    val k = graft.operators.NndGraphArtifact.K
    val roundCtes = (1 to 3).map { r =>
      s"""
      b$r AS MATERIALIZED (
        SELECT DISTINCT qid, vec_id FROM (
          SELECT qid, vec_id FROM g${r - 1}
          UNION ALL SELECT vec_id AS qid, qid AS vec_id FROM g${r - 1})),
      cand$r AS MATERIALIZED (
        SELECT DISTINCT qid, vec_id FROM (
          SELECT x.qid AS qid, y.vec_id AS vec_id
          FROM b$r x JOIN b$r y ON x.vec_id = y.qid
          WHERE x.qid <> y.vec_id
          UNION ALL SELECT qid, vec_id FROM g${r - 1})),
      s$r AS MATERIALIZED (
        SELECT c.qid, c.vec_id, ${cosOf("a.embedding", "b.embedding")} AS cos
        FROM cand$r c
        JOIN embeddings a ON a.vec_id = c.qid
        JOIN embeddings b ON b.vec_id = c.vec_id),
      g$r AS MATERIALIZED (
        SELECT qid, vec_id, cos, rnk FROM (
          SELECT qid, vec_id, cos,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, vec_id) AS rnk
          FROM s$r)
        WHERE rnk <= $k)"""
    }.mkString(",")
    s"""${lloydCte(8, 2)},
      final_asg AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
          FROM embeddings e, cents2 c)
        WHERE rn = 1),
      cpair AS MATERIALIZED (
        SELECT fa.vec_id AS qid, fb.vec_id AS vec_id,
               ${cosOf("a.embedding", "b.embedding")} AS cos
        FROM final_asg fa JOIN final_asg fb
          ON fa.cell = fb.cell AND fa.vec_id <> fb.vec_id
        JOIN embeddings a ON a.vec_id = fa.vec_id
        JOIN embeddings b ON b.vec_id = fb.vec_id),
      incell AS MATERIALIZED (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, vec_id) AS rnk
          FROM cpair)
        WHERE rnk <= ${graft.operators.KnnEdgesArtifact.K}),
      nv AS (SELECT count(*) AS n FROM embeddings),
      scatter AS (
        SELECT qid, vec_id FROM (
          SELECT e.vec_id AS qid,
                 (e.vec_id
                   + (((e.vec_id % nv.n) * (e.vec_id % nv.n) + 1) % nv.n)
                     * dd.i
                   + dd.i * dd.i * 104729) % nv.n AS vec_id
          FROM embeddings e, nv,
               (SELECT unnest(generate_series(1, 10)) AS i) dd)
        WHERE qid <> vec_id),
      init AS MATERIALIZED (
        SELECT DISTINCT qid, vec_id FROM (
          SELECT qid, vec_id FROM incell
          UNION ALL SELECT qid, vec_id FROM scatter)),
      s0 AS MATERIALIZED (
        SELECT i.qid, i.vec_id, ${cosOf("a.embedding", "b.embedding")} AS cos
        FROM init i
        JOIN embeddings a ON a.vec_id = i.qid
        JOIN embeddings b ON b.vec_id = i.vec_id),
      g0 AS MATERIALIZED (
        SELECT qid, vec_id, cos FROM (
          SELECT qid, vec_id, cos,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, vec_id) AS rnk
          FROM s0)
        WHERE rnk <= $k),
      $roundCtes""".trim
  }

  val qEmbedNndescent: Q = Q(
    "q_embed_nndescent",
    (spark, dir) => {
      graft.operators.NndGraphArtifact.materialize(spark, dir)
      graft.operators.NndGraphArtifact.edges(spark, dir)
        .select(col("qid"), col("vec_id"), col("cos"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    },
    Some(s"""
      WITH $nndGraphCtes
      SELECT qid, vec_id, cos, CAST(rnk AS INT) AS rnk FROM g3
      ORDER BY qid, rnk
    """.trim))

  /** BEAM search over the materialized NN-descent graph — the online
    * query path of the graph-ANN tier
    * ([[graft.operators.Similarity.graphBeamSearch]]): queries 8..15
    * walk 4 fixed hops from entry node 0 at beam width 4 and answer
    * top-3 over everything visited. Per-query cost is bounded by
    * beam x symmetrized-degree per hop — independent of corpus size,
    * which is what a graph index buys. The oracle replays the graph
    * build AND the identical hop expansion. Recall/monotonicity/
    * determinism pinned in GraphSearchSpec. */
  val qEmbedGraphSearch: Q = {
    val (beam, hops) = (4, 4)
    val hopCtes = (1 to hops).map { r =>
      s"""
      gc$r AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT qid, node FROM f${r - 1}
          UNION ALL
          SELECT f.qid, b.dst AS node
          FROM f${r - 1} f JOIN bsym b ON b.src = f.node)
        WHERE node <> qid),
      sc$r AS MATERIALIZED (
        SELECT c.qid, c.node, ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM gc$r c
        JOIN bq q ON q.qid = c.qid
        JOIN embeddings e ON e.vec_id = c.node),
      f$r AS MATERIALIZED (
        SELECT qid, node FROM (
          SELECT qid, node,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, node) AS rn
          FROM sc$r)
        WHERE rn <= $beam),
      seen$r AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT qid, node FROM seen${r - 1}
          UNION ALL SELECT qid, node FROM gc$r))"""
    }.mkString(",")
    Q(
      "q_embed_graph_search",
      // round 13: the fixed walk's trace is stored once
      // ([[graft.operators.BeamWalkArtifact]] — q_ann_pareto's graph
      // leg runs the identical walk); this query pays only its own
      // top-3 rank cut. Parameters are pinned by the artifact
      // (q 8..16, beam 4, hops 4, entry 0 — this query's values).
      (spark, dir) => graft.operators.Similarity.traceTopK(
        graft.operators.BeamWalkArtifact.seen(spark, dir), k = 3),
      Some(s"""
      WITH $nndGraphCtes,
      bsym AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
          SELECT qid AS src, vec_id AS dst FROM g3
          UNION ALL SELECT vec_id AS src, qid AS dst FROM g3)),
      bq AS MATERIALIZED (
        SELECT vec_id AS qid, embedding AS qvec FROM embeddings
        WHERE vec_id >= 8 AND vec_id < 16),
      f0 AS (SELECT qid, CAST(0 AS BIGINT) AS node FROM bq),
      seen0 AS (SELECT qid, node FROM f0),
      $hopCtes,
      fin AS (
        SELECT s.qid, s.node AS vec_id,
               ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM seen$hops s
        JOIN bq q ON q.qid = s.qid
        JOIN embeddings e ON e.vec_id = s.node)
      SELECT qid, vec_id, cos, CAST(rnk AS INT) AS rnk FROM (
        SELECT qid, vec_id, cos,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, vec_id) AS rnk
        FROM fin)
      WHERE rnk <= 3
      ORDER BY qid, rnk
    """.trim))
  }

  /** Margin-based pair mining (the bitext/parallel-pair scorer —
    * [[graft.operators.Similarity.marginPairs]]): each even-id
    * vector's best odd-id in-cell match, scored by cosine RELATIVE to
    * both sides' k-NN neighborhood density and accepted above a 1.05
    * ratio — the density correction that stops hub regions from
    * flooding a raw-cosine threshold. Candidates blocked by the
    * prebuilt IVF cells (never all-pairs); cosines in micro units,
    * averages and the margin as sign-safe integer divisions the
    * oracle replays exactly. */
  val qEmbedBitextMargin: Q = Q(
    "q_embed_bitext_margin",
    (spark, dir) => graft.operators.Similarity.marginPairs(
      graft.operators.IvfArtifact.inverted(spark, dir, 8, 2),
      k = 3, thresholdPpm = 1050000L),
    Some(s"""
      WITH ${lloydCte(8, 2)},
      final_asg AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
          FROM embeddings e, cents2 c)
        WHERE rn = 1),
      xp AS MATERIALIZED (
        SELECT fa.vec_id AS qid, fb.vec_id AS vid,
               CAST(floor(${cosOf("a.embedding", "b.embedding")} * 1000000
                 + 0.5) AS BIGINT) AS cos_micro
        FROM final_asg fa JOIN final_asg fb ON fa.cell = fb.cell
        JOIN embeddings a ON a.vec_id = fa.vec_id
        JOIN embeddings b ON b.vec_id = fb.vec_id
        WHERE fa.vec_id % 2 = 0 AND fb.vec_id % 2 = 1),
      fr AS (
        SELECT qid, vid, cos_micro,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cos_micro DESC, vid) AS rn
        FROM xp),
      fwd AS (
        SELECT qid,
               CAST(CASE WHEN sum(cos_micro) >= 0
                 THEN sum(cos_micro) // count(*)
                 ELSE -((-sum(cos_micro)) // count(*)) END AS BIGINT)
                 AS avg_f,
               max(CASE WHEN rn = 1 THEN vid END) AS best_vid,
               max(CASE WHEN rn = 1 THEN cos_micro END) AS best_cos
        FROM fr WHERE rn <= 3 GROUP BY qid),
      br AS (
        SELECT qid, vid, cos_micro,
               row_number() OVER (PARTITION BY vid
                 ORDER BY cos_micro DESC, qid) AS rn
        FROM xp),
      bwd AS (
        SELECT vid,
               CAST(CASE WHEN sum(cos_micro) >= 0
                 THEN sum(cos_micro) // count(*)
                 ELSE -((-sum(cos_micro)) // count(*)) END AS BIGINT)
                 AS avg_b
        FROM br WHERE rn <= 3 GROUP BY vid),
      sc AS (
        SELECT f.qid, f.best_vid AS match_vid, f.best_cos AS cos_micro,
               greatest(CASE WHEN f.avg_f + b.avg_b >= 0
                 THEN (f.avg_f + b.avg_b) // 2
                 ELSE -((-(f.avg_f + b.avg_b)) // 2) END, 1) AS denom,
               f.best_cos AS bc
        FROM fwd f JOIN bwd b ON b.vid = f.best_vid)
      SELECT qid, match_vid, cos_micro,
             CAST(CASE WHEN bc >= 0
               THEN (bc * 1000000) // denom
               ELSE -(((-bc) * 1000000) // denom) END AS BIGINT)
               AS margin_ppm,
             CAST(CASE WHEN bc >= 0
               THEN (bc * 1000000) // denom
               ELSE -(((-bc) * 1000000) // denom) END AS BIGINT)
               >= 1050000 AS accepted
      FROM sc ORDER BY qid
    """.trim))

  /** Incremental graph-ANN maintenance
    * ([[graft.operators.Similarity.nnDescentAppend]]): the last 8
    * vectors arrive as an append batch against the stored NN-descent
    * graph RESTRICTED to the other nodes (the post-deletion /
    * pre-ingest state an index actually sits in), and are integrated
    * without a rebuild — beam-locate seeding (3 hops, beam 4, entry
    * 0), shared-visited-node new-new blocking, top-k seed lists, one
    * local NN-descent round over the batch side, then NON-EVICTING
    * back-edge inserts into only the old nodes a new node's final
    * list points at (evicting old edges breaks connectivity and drops
    * old queries' recall; the next rebuild reconciles the ≤|batch|
    * extra degree). Output is
    * the append DELTA manifest: every (qid, vec_id, rnk) row not in
    * the base graph — i.e. what an incremental index writer would
    * persist. The oracle replays the artifact build AND the identical
    * append steps; untouched-row identity and recall preservation are
    * pinned in NnDescentAppendSpec. */
  val qEmbedGraphAppend: Q = {
    val (beam, hops, localRounds) = (4, 3, 1)
    val k = graft.operators.NndGraphArtifact.K
    val hopCtes = (1 to hops).map { r =>
      s"""
      agc$r AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT qid, node FROM af${r - 1}
          UNION ALL
          SELECT f.qid, b.dst AS node
          FROM af${r - 1} f JOIN absym b ON b.src = f.node)),
      asc$r AS MATERIALIZED (
        SELECT c.qid, c.node, ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM agc$r c
        JOIN abq q ON q.qid = c.qid
        JOIN embeddings e ON e.vec_id = c.node),
      af$r AS MATERIALIZED (
        SELECT qid, node FROM (
          SELECT qid, node,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, node) AS rn
          FROM asc$r)
        WHERE rn <= $beam),
      aseen$r AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT qid, node FROM aseen${r - 1}
          UNION ALL SELECT qid, node FROM agc$r))"""
    }.mkString(",")
    Q(
      "q_embed_graph_append",
      (spark, dir) => {
        // round 13: the batch integration (locate + seed + local round
        // + back-edge merge — ~60 scheduler jobs of AQE cascades per
        // execution) is the WRITE path of an incremental index;
        // production runs it once per batch and persists the state.
        // [[graft.operators.AppendGraphArtifact]] stores the
        // integrated graph; this query derives the append DELTA
        // manifest from it (anti-join vs the base prefix). The oracle
        // below still replays the full integration from embeddings,
        // and AppendGraphArtifactSpec pins artifact-vs-direct row
        // identity.
        val m = graft.operators.AppendGraphArtifact.batchMinId(spark, dir)
        val baseE = graft.operators.NndGraphArtifact.edges(spark, dir)
          .filter(col("qid") < m && col("vec_id") < m)
          .select(col("qid"), col("vec_id"), col("cos"), col("rnk"))
        graft.operators.AppendGraphArtifact.edges(spark, dir)
          .join(baseE, Seq("qid", "vec_id", "rnk"), "left_anti")
          .select(col("qid"), col("vec_id"), col("cos"), col("rnk"),
            (col("qid") >= m).as("is_new_node"))
          .orderBy(col("qid"), col("rnk"))
      },
      Some(s"""
      WITH $nndGraphCtes,
      sp AS (SELECT max(vec_id) - 7 AS m FROM embeddings),
      abase AS MATERIALIZED (
        SELECT qid, vec_id, cos, rnk FROM g3
        WHERE qid < (SELECT m FROM sp) AND vec_id < (SELECT m FROM sp)),
      absym AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
          SELECT qid AS src, vec_id AS dst FROM abase
          UNION ALL SELECT vec_id AS src, qid AS dst FROM abase)),
      abq AS MATERIALIZED (
        SELECT vec_id AS qid, embedding AS qvec FROM embeddings
        WHERE vec_id >= (SELECT m FROM sp)),
      af0 AS (SELECT qid, CAST(0 AS BIGINT) AS node FROM abq),
      aseen0 AS (SELECT qid, node FROM af0),
      $hopCtes,
      annx AS (
        SELECT DISTINCT a.qid AS qid, b.qid AS node
        FROM aseen$hops a JOIN aseen$hops b
          ON a.node = b.node AND a.qid <> b.qid),
      acand0 AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT qid, node FROM aseen$hops
          UNION ALL SELECT qid, node FROM annx)),
      as0x AS MATERIALIZED (
        SELECT c.qid, c.node, ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM acand0 c
        JOIN abq q ON q.qid = c.qid
        JOIN embeddings e ON e.vec_id = c.node),
      ane0 AS MATERIALIZED (
        SELECT qid, node AS vec_id, cos, rnk FROM (
          SELECT qid, node, cos,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, node) AS rnk
          FROM as0x)
        WHERE rnk <= $k),
      au AS MATERIALIZED (
        SELECT qid, vec_id FROM abase
        UNION ALL SELECT qid, vec_id FROM ane0),
      ahop1 AS MATERIALIZED (
        SELECT qid, vec_id FROM au WHERE qid >= (SELECT m FROM sp)
        UNION ALL
        SELECT vec_id AS qid, qid AS vec_id FROM au
        WHERE vec_id >= (SELECT m FROM sp)),
      amids AS (SELECT DISTINCT vec_id AS mid FROM ahop1),
      ahop2 AS MATERIALIZED (
        SELECT u.qid, u.vec_id FROM au u JOIN amids m ON u.qid = m.mid
        UNION ALL
        SELECT u.vec_id AS qid, u.qid AS vec_id
        FROM au u JOIN amids m ON u.vec_id = m.mid),
      acand1 AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT x.qid AS qid, y.vec_id AS node
          FROM ahop1 x JOIN ahop2 y ON x.vec_id = y.qid
          WHERE x.qid <> y.vec_id
          UNION ALL SELECT qid, vec_id AS node FROM ane0)),
      as1x AS MATERIALIZED (
        SELECT c.qid, c.node, ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM acand1 c
        JOIN abq q ON q.qid = c.qid
        JOIN embeddings e ON e.vec_id = c.node),
      ane1 AS MATERIALIZED (
        SELECT qid, node AS vec_id, cos, rnk FROM (
          SELECT qid, node, cos,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, node) AS rnk
          FROM as1x)
        WHERE rnk <= $k),
      aoldc AS (
        SELECT vec_id AS qid, qid AS vec_id, cos FROM ane1
        WHERE vec_id < (SELECT m FROM sp)),
      atouched AS (SELECT DISTINCT qid FROM aoldc),
      aupd AS MATERIALIZED (
        SELECT qid, vec_id, cos,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, vec_id) AS rnk
        FROM (
          SELECT b.qid, b.vec_id, b.cos
          FROM abase b JOIN atouched t ON t.qid = b.qid
          UNION ALL SELECT qid, vec_id, cos FROM aoldc)),
      aunt AS MATERIALIZED (
        SELECT b.qid, b.vec_id, b.cos, b.rnk
        FROM abase b LEFT JOIN atouched t ON t.qid = b.qid
        WHERE t.qid IS NULL),
      aall AS (
        SELECT qid, vec_id, cos, rnk FROM aunt
        UNION ALL SELECT qid, vec_id, cos, rnk FROM aupd
        UNION ALL SELECT qid, vec_id, cos, rnk FROM ane1)
      SELECT a.qid, a.vec_id, a.cos, CAST(a.rnk AS INT) AS rnk,
             a.qid >= (SELECT m FROM sp) AS is_new_node
      FROM aall a LEFT JOIN abase b
        ON b.qid = a.qid AND b.vec_id = a.vec_id AND b.rnk = a.rnk
      WHERE b.qid IS NULL
      ORDER BY a.qid, a.rnk
    """.trim))
  }

  /** Incremental IVF maintenance
    * ([[graft.operators.Similarity.ivfAppend]]): the last 8 vectors
    * arrive against an index whose 8 Lloyd-refined centroids were
    * trained on the BASE corpus and are frozen (re-training per
    * ingest batch would invalidate every stored assignment); output
    * is the per-cell maintenance manifest — base/new/total occupancy,
    * the batch's share in exact ppm, and the `needs_split` rebalance
    * flag (post-append load > 2× the mean cell load). The oracle
    * replays the base-restricted Lloyd loop and both assignments. */
  val qEmbedIvfAppend: Q = Q(
    "q_embed_ivf_append",
    // round 13: the frozen base centroids come from
    // [[graft.operators.IvfBaseArtifact]] (the append contract itself
    // freezes them — re-training per batch invalidates stored
    // assignments); the query pays the two assignments + manifest
    // only. The oracle below still replays the full Lloyd loop.
    (spark, dir) => {
      val (m, nAll) = graft.operators.IvfBaseArtifact.meta(spark, dir)
      Similarity.ivfAppendWith(Tables.embeddings(spark, dir),
        graft.operators.IvfBaseArtifact.centroids(spark, dir),
        m, nAll, numCentroids = 8)
    },
    Some(s"""
      WITH mm AS (
        SELECT max(vec_id) - 7 AS m, 2 * count(*) AS thr FROM embeddings),
      base AS (
        SELECT e.vec_id, e.embedding FROM embeddings e, mm
        WHERE e.vec_id < mm.m),
      batch AS (
        SELECT e.vec_id, e.embedding FROM embeddings e, mm
        WHERE e.vec_id >= mm.m),
      ${lloydCte(8, 2, "base")},
      ab AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
          FROM base e, cents2 c)
        WHERE rn = 1),
      an AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosOf("e.embedding", "c.cvec")} DESC, c.cell) AS rn
          FROM batch e, cents2 c)
        WHERE rn = 1),
      nb AS (SELECT cell, count(*) AS n_base FROM ab GROUP BY cell),
      nn AS (SELECT cell, count(*) AS n_new FROM an GROUP BY cell),
      occ AS (
        SELECT c.cell,
               CAST(coalesce(nb.n_base, 0) AS BIGINT) AS n_base,
               CAST(coalesce(nn.n_new, 0) AS BIGINT) AS n_new,
               CAST(coalesce(nb.n_base, 0) + coalesce(nn.n_new, 0)
                 AS BIGINT) AS n_total
        FROM cents2 c LEFT JOIN nb USING (cell) LEFT JOIN nn USING (cell))
      SELECT cell, n_base, n_new, n_total,
             CAST(CASE WHEN n_total > 0
               THEN n_new * 1000000 // n_total ELSE 0 END AS BIGINT)
               AS new_share_ppm,
             n_total * 8 > (SELECT thr FROM mm) AS needs_split
      FROM occ ORDER BY cell
    """.trim))

  /** ANN PARETO capstone — the one table a deployment decision reads:
    * every search path in the engine (exhaustive scan, IVF at 1 and 2
    * probes, IVF-PQ compressed scoring, NN-descent graph beam walk)
    * answers the SAME 8-query panel (qid 8..16) for its top-5 over the
    * SAME corpus (everything outside the query range), and each leg
    * reports recall@5 against the exhaustive baseline next to
    * `cand_scored` — the number of candidate vectors it actually
    * scored, the cost denominator of the recall-vs-work frontier.
    * Expected dominance (asserted in AnnParetoSpec): exact ≥ ivf_p2 ≥
    * ivf_p1 on recall with strictly shrinking candidates; ivfpq scores
    * the SAME candidates as ivf_p2 compressed (recall ≤, the
    * compression toll made visible); the beam walk's cost follows
    * beam·degree·hops, independent of corpus size. All five legs are
    * deterministic and the oracle replays each one. */
  val qAnnPareto: Q = {
    val k = 5
    val (beam, hops) = (4, 4)
    val hopCtes = (1 to hops).map { r =>
      s"""
      gc$r AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT qid, node FROM f${r - 1}
          UNION ALL
          SELECT f.qid, b.dst AS node
          FROM f${r - 1} f JOIN bsym b ON b.src = f.node)
        WHERE node <> qid),
      sc$r AS MATERIALIZED (
        SELECT c.qid, c.node, ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM gc$r c
        JOIN bq q ON q.qid = c.qid
        JOIN embeddings e ON e.vec_id = c.node),
      f$r AS MATERIALIZED (
        SELECT qid, node FROM (
          SELECT qid, node,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, node) AS rn
          FROM sc$r)
        WHERE rn <= $beam),
      seen$r AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT qid, node FROM seen${r - 1}
          UNION ALL SELECT qid, node FROM gc$r))"""
    }.mkString(",")
    Q(
      "q_ann_pareto",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(spark, dir)
        val inCorpus = col("vec_id") < 8 || col("vec_id") >= 16
        val queries = broadcast(emb
          .filter(col("vec_id") >= 8 && col("vec_id") < 16)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")))
        val corpus = emb.filter(inCorpus)
          .select(col("vec_id"), col("embedding"))
        // exhaustive baseline = the ground truth every leg is scored
        // against; persisted, it anchors four overlap joins
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))
        val exact = corpus.crossJoin(queries)
          .select(col("qid"), col("vec_id"),
            Similarity.cosine(col("qvec"), col("embedding")).as("cos"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= k)
          .select(col("qid"), col("vec_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cents = graft.operators.IvfArtifact.centroids(spark, dir, 8, 2)
        val inv = graft.operators.IvfArtifact.inverted(spark, dir, 8, 2)
        // per-query probed cells at the max probe depth; rn = probe rank
        val wp = Window.partitionBy(col("qid"))
          .orderBy(col("pcos").desc, col("cell"))
        val probes = queries.crossJoin(broadcast(cents))
          .select(col("qid"), col("cell"),
            Similarity.cosine(col("qvec"), col("cvec")).as("pcos"))
          .withColumn("rn", row_number().over(wp))
          .filter(col("rn") <= 2)
          .select(col("qid"), col("cell"), col("rn"))
        val cellSizes = inv.filter(inCorpus)
          .groupBy(col("cell")).agg(count(lit(1)).as("csz"))
        def ivfCost(p: Int): org.apache.spark.sql.DataFrame = probes
          .filter(col("rn") <= p).join(broadcast(cellSizes), "cell")
          .groupBy(col("qid")).agg(sum(col("csz")).as("cand_scored"))
        def leg(method: String, param: String,
            topk: org.apache.spark.sql.DataFrame,
            cost: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          topk.select(col("qid"), col("vec_id"))
            .join(exact, Seq("qid", "vec_id"))
            .agg(count(lit(1)).as("n_hit"))
            .crossJoin(cost.agg(sum(col("cand_scored")).as("cand_scored")))
            .select(lit(method).as("method"), lit(param).as("param"),
              col("cand_scored"), col("n_hit"))
        // round 13: the graph leg's walk trace comes from the shared
        // stored artifact (identical walk to q_embed_graph_search —
        // same graph, queries 8..16, beam 4, hops 4, entry 0); only
        // the top-5 cut and the audit read run here.
        val graphTop = Similarity.traceTopK(
          graft.operators.BeamWalkArtifact.seen(spark, dir), k = k)
        val graphCost = graft.operators.BeamWalkArtifact.cost(spark, dir)
        val legs = Seq(
          leg("1_exact_scan", "exhaustive", exact,
            corpus.agg((count(lit(1)) * 8).as("cand_scored"))),
          leg("2_ivf_probe2", "c8,probes=2",
            Similarity.ivfSearchIndexed(cents, inv, 8, 16, k, probes = 2),
            ivfCost(2)),
          leg("3_ivfpq_probe2", "c8,probes=2,pq8x16",
            Similarity.ivfPqSearch(cents, inv, 8, 16, k, probes = 2),
            ivfCost(2)),
          leg("4_ivf_probe1", "c8,probes=1",
            Similarity.ivfSearchIndexed(cents, inv, 8, 16, k, probes = 1),
            ivfCost(1)),
          leg("5_graph_beam", s"k10,beam=$beam,hops=$hops",
            graphTop, graphCost))
        legs.reduce(_ unionByName _)
          .select(col("method"), col("param"), lit(8L).as("n_queries"),
            col("cand_scored"), col("n_hit"),
            round(col("n_hit") / lit(k * 8.0), 6).as("recall"))
          .orderBy(col("method"))
      },
      Some(s"""
      WITH $nndGraphCtes,
      bsym AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
          SELECT qid AS src, vec_id AS dst FROM g3
          UNION ALL SELECT vec_id AS src, qid AS dst FROM g3)),
      bq AS MATERIALIZED (
        SELECT vec_id AS qid, embedding AS qvec FROM embeddings
        WHERE vec_id >= 8 AND vec_id < 16),
      f0 AS (SELECT qid, CAST(0 AS BIGINT) AS node FROM bq),
      seen0 AS (SELECT qid, node FROM f0),
      $hopCtes,
      -- exhaustive baseline over the shared corpus
      xsc AS MATERIALIZED (
        SELECT q.qid, e.vec_id, ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM bq q, embeddings e
        WHERE e.vec_id < 8 OR e.vec_id >= 16),
      xtop AS MATERIALIZED (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, vec_id) AS rnk
          FROM xsc)
        WHERE rnk <= $k),
      ncorp AS (SELECT count(*) AS nc FROM embeddings
                WHERE vec_id < 8 OR vec_id >= 16),
      -- IVF probes over the Lloyd-refined cells (rn = probe rank)
      pr AS MATERIALIZED (
        SELECT qid, cell, rn FROM (
          SELECT q.qid, c.cell,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${cosOf("q.qvec", "c.cvec")} DESC, c.cell) AS rn
          FROM bq q, cents2 c)
        WHERE rn <= 2),
      icand AS MATERIALIZED (
        SELECT p.qid, p.rn, e.vec_id,
               ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM pr p JOIN bq q USING (qid)
        JOIN final_asg fa ON fa.cell = p.cell
        JOIN embeddings e ON e.vec_id = fa.vec_id
        WHERE e.vec_id < 8 OR e.vec_id >= 16),
      itop2 AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, vec_id) AS rnk
          FROM icand)
        WHERE rnk <= $k),
      itop1 AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, vec_id) AS rnk
          FROM icand WHERE rn <= 1)
        WHERE rnk <= $k),
      -- IVF-PQ: per-cell encode against the first-16 seed codebook,
      -- LUT, integer-nano ADC over the probe-2 candidates
      subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
      cb AS (
        SELECT s.sub, CAST(e.vec_id AS INT) AS cidx,
               [e.embedding[i] FOR i IN generate_series(s.sub * 8 + 1, s.sub * 8 + 8)] AS cvec
        FROM embeddings e, subs s WHERE e.vec_id < 16),
      encd AS MATERIALIZED (
        SELECT vec_id, cell, sub, cidx AS code FROM (
          SELECT e.vec_id, a.cell, c.sub, c.cidx,
                 row_number() OVER (PARTITION BY e.vec_id, c.sub ORDER BY
                   list_sum([(e.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                             * (e.embedding[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                             FOR i IN generate_series(1, 8)]), c.cidx) AS rn
          FROM embeddings e JOIN final_asg a USING (vec_id), cb c
          WHERE e.vec_id < 8 OR e.vec_id >= 16)
        WHERE rn = 1),
      lut AS MATERIALIZED (
        SELECT q.qid, c.sub, c.cidx,
               CAST(floor(list_sum([(q.qvec[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                                    * (q.qvec[c.sub * 8 + i]::DOUBLE - c.cvec[i]::DOUBLE)
                                    FOR i IN generate_series(1, 8)]) * 1000000000 + 0.5)
                 AS BIGINT) AS d_int
        FROM bq q, cb c),
      adc AS (
        SELECT l.qid, e.vec_id, sum(l.d_int) AS adc
        FROM pr p
        JOIN encd e ON e.cell = p.cell
        JOIN lut l ON l.qid = p.qid AND l.sub = e.sub AND l.cidx = e.code
        GROUP BY l.qid, e.vec_id),
      ptop AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY adc, vec_id) AS rnk
          FROM adc)
        WHERE rnk <= $k),
      -- graph beam top-5 over everything visited
      gfin AS (
        SELECT s.qid, s.node AS vec_id,
               ${cosOf("q.qvec", "e.embedding")} AS cos
        FROM seen$hops s
        JOIN bq q ON q.qid = s.qid
        JOIN embeddings e ON e.vec_id = s.node),
      gtop AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, vec_id) AS rnk
          FROM gfin)
        WHERE rnk <= $k),
      gcost AS (
        SELECT CAST(sum(c) AS BIGINT) AS cand_scored FROM (
          ${(1 to hops).map(r => s"SELECT count(*) AS c FROM gc$r")
            .mkString("\n          UNION ALL ")})),
      -- candidate-work totals per leg
      isz AS (
        SELECT p.rn, count(*) AS c
        FROM pr p JOIN final_asg fa ON fa.cell = p.cell
        WHERE fa.vec_id < 8 OR fa.vec_id >= 16
        GROUP BY p.rn),
      legs AS (
        SELECT '1_exact_scan' AS method, 'exhaustive' AS param,
               (SELECT nc * 8 FROM ncorp) AS cand_scored,
               (SELECT count(*) FROM xtop) AS n_hit
        UNION ALL
        SELECT '2_ivf_probe2', 'c8,probes=2',
               (SELECT sum(c) FROM isz),
               (SELECT count(*) FROM itop2 t JOIN xtop x
                  ON t.qid = x.qid AND t.vec_id = x.vec_id)
        UNION ALL
        SELECT '3_ivfpq_probe2', 'c8,probes=2,pq8x16',
               (SELECT sum(c) FROM isz),
               (SELECT count(*) FROM ptop t JOIN xtop x
                  ON t.qid = x.qid AND t.vec_id = x.vec_id)
        UNION ALL
        SELECT '4_ivf_probe1', 'c8,probes=1',
               (SELECT c FROM isz WHERE rn = 1),
               (SELECT count(*) FROM itop1 t JOIN xtop x
                  ON t.qid = x.qid AND t.vec_id = x.vec_id)
        UNION ALL
        SELECT '5_graph_beam', 'k10,beam=$beam,hops=$hops',
               (SELECT cand_scored FROM gcost),
               (SELECT count(*) FROM gtop t JOIN xtop x
                  ON t.qid = x.qid AND t.vec_id = x.vec_id))
      SELECT method, param, CAST(8 AS BIGINT) AS n_queries,
             CAST(cand_scored AS BIGINT) AS cand_scored,
             CAST(n_hit AS BIGINT) AS n_hit,
             round(CAST(n_hit AS DOUBLE) / ${k * 8}.0, 6) AS recall
      FROM legs ORDER BY method
    """.trim))
  }

  def all: Seq[Q] = Seq(qEmbedKnn, qEmbedIvf, qEmbedIvfKnn,
    qEmbedIvfRefined, qEmbedIvfMultiprobe, qEmbedNeardup,
    qEmbedSrpNeardup, qEmbedQuantized, qEmbedPq, qEmbedPqRefined,
    qEmbedIvfPq, qEmbedSemanticDedup, qEmbedHealth, qEmbedMatryoshka,
    qEmbedCentroidDrift, qEmbedThresholdSweep, qEmbedHardneg,
    qEmbedRecallCurve, qEvalMrr, qEvalNdcg, qEmbedMmr, qEmbedSilhouette,
    qEmbedOodScore, qTextCosineKnn, qRankFusion, qEmbedEffRank,
    qEmbedPc1, qEmbedHubness, qEmbedFisher, qEmbedIsotropy,
    qEmbedCoreset, qEmbedLabelNoise, qKnnShapley, qLabelProp,
    qEmbedAlignUniform, qEmbedNndescent, qEmbedGraphSearch,
    qEmbedBitextMargin, qEmbedGraphAppend, qEmbedIvfAppend, qAnnPareto)
}
