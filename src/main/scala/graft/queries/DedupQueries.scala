package graft.queries

import graft.{Q, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions.{col, length, levenshtein, substring}

/** Deduplication verify queries over the `documents` table. The DuckDB
  * oracles use *different algorithms* where possible (e.g.
  * list_intersect vs shingle-join for Jaccard, brute-force all-pairs vs
  * pigeonhole blocking for SimHash) so the comparison is an independent
  * check of the math, not a translation of the plan. Oracles that must
  * reproduce hash arithmetic (minhash mixes, simhash bit sums) are
  * GENERATED from the same constants in [[Dedup]], so the two sides
  * cannot silently drift. */
object DedupQueries {

  /** DuckDB expression for 32-bit chunk `j` (0-based) of the hex digest
    * column `hx`: big-endian nibble-weighted sum via strpos — the exact
    * value Spark computes with `conv(substring(hx, j*8+1, 8), 16, 10)`.
    * Shared with the sketch oracles in [[CurationQueries]]. */
  private[queries] def chunkSql(j: Int): String =
    (0 until 8).map { k =>
      s"(strpos('0123456789abcdef', substring(hx, ${j * 8 + k + 1}, 1)) - 1)" +
        s" * ${1L << (4 * (7 - k))}"
    }.mkString("(", " + ", ")")

  /** Shared shingle CTE prefix (5-gram shingles per doc). */
  private val shinglesCte: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS tl FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |           [array_to_string(tl[i:i+4], ' ')
      |            FOR i IN generate_series(1, len(tl) - 4)])) AS shingle
      |  FROM toks WHERE len(tl) >= 5)""".stripMargin

  val qDedupExact: Q = Q(
    "q_dedup_exact",
    (spark, dir) => Dedup.exactStats(Tables.documents(spark, dir)),
    Some("""
      SELECT count(*) AS n_docs,
             count(DISTINCT md5(text)) AS n_unique_exact,
             count(DISTINCT md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               '\s+', ' ', 'g')))) AS n_unique_canonical
      FROM documents
    """.trim))

  /** 5-gram Jaccard near-dup pairs at >= 0.8 — Spark joins on shared
    * shingles (pair cost ∝ actual overlap); the oracle brute-forces
    * list_intersect over all pairs. Same math, different plan. Both
    * engines filter on the 6dp-ROUNDED jaccard so boundary pairs
    * resolve identically. */
  val qDedupNgramJaccard: Q = Q(
    "q_dedup_ngram_jaccard",
    (spark, dir) => Dedup.jaccardPairs(Tables.documents(spark, dir), 0.8),
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS tl FROM documents),
      sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(tl[i:i+4], ' ')
                              FOR i IN generate_series(1, len(tl) - 4)]) AS sl
        FROM toks WHERE len(tl) >= 5)
      SELECT a.doc_id AS da, b.doc_id AS db,
             round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
                   (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) AS jaccard
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
            (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) >= 0.8
      ORDER BY da, db
    """.trim))

  /** The document-frequency cap that keeps the shingle self-join linear
    * at corpus scale (a shingle in k docs emits k² join rows; dropping
    * df > cap shingles bounds k — ~1000 is the production setting). The
    * synthetic fixture's max shingle df is 3, so the registered query
    * uses cap=2: the only value that actually drops shingles (74 at
    * sf0.01) while near-dup pairs survive — i.e. the guard is
    * EXERCISED, not just wired. */
  val JaccardCap = 2

  /** maxDf-capped Jaccard — the scale-guarded variant: stop-phrase-like
    * shingles (df > cap) are dropped from BOTH the join and the per-doc
    * set sizes, in engine and oracle alike. Threshold 0.5 so pairs that
    * lose hot shingles still surface. */
  val qDedupJaccardCapped: Q = Q(
    "q_dedup_jaccard_capped",
    (spark, dir) => {
      // The registered build step of the near-dup pair artifact
      // (operators/ClusterArtifact.scala, PairsArtifact): the dedup
      // pipeline's first job, whose output the CC labeling consumes.
      graft.operators.PairsArtifact(0.5, JaccardCap).materialize(spark, dir)
      graft.operators.PairsArtifact.pairs(spark, dir, 0.5, JaccardCap)
        .orderBy(col("da"), col("db"))
    },
    Some(s"""
      $shinglesCte,
      df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      kept AS (
        SELECT doc_id, list(sh.shingle ORDER BY sh.shingle) AS sl
        FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.df <= $JaccardCap
        GROUP BY doc_id)
      SELECT a.doc_id AS da, b.doc_id AS db,
             round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
                   (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) AS jaccard
      FROM kept a, kept b
      WHERE a.doc_id < b.doc_id
        AND round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
            (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) >= 0.5
      ORDER BY da, db
    """.trim))

  /** MinHash (16 slots from ONE md5 via affine chunk mixes) + LSH
    * (4 bands of 4): candidates share >= 1 band; estimated similarity =
    * agreeing slots / 16, kept at >= 0.5. The oracle recomputes the
    * identical mixes from the [[Dedup.MixA]]/[[Dedup.MixB]] constants. */
  /** Shared oracle CTE chain replaying the whole MinHash+LSH pipeline
    * (one md5 per shingle, 16 affine chunk mixes, 4 band buckets,
    * slot-agreement estimate) — ends at `agree(da, db, est)`. Used by
    * both the pair query and the LSH-calibration gauge so the two
    * cannot drift. */
  private def minhashAgreeCtes: String = {
    val seedRows = (0 until Dedup.MinhashSeeds).map(i =>
      s"(${i}, ${Dedup.MixA(i)}, ${Dedup.MixB(i)}, ${i % 4})").mkString(", ")
    s"""
      $shinglesCte,
      hx AS (SELECT doc_id, md5(shingle) AS hx FROM sh),
      ch AS (SELECT doc_id, ${chunkSql(0)} AS c0, ${chunkSql(1)} AS c1,
                    ${chunkSql(2)} AS c2, ${chunkSql(3)} AS c3 FROM hx),
      seeds(seed, a, b, cidx) AS (VALUES $seedRows),
      sigs AS (
        SELECT doc_id, seed,
               min(((CASE cidx WHEN 0 THEN c0 WHEN 1 THEN c1
                               WHEN 2 THEN c2 ELSE c3 END) * a + b)
                   % ${Dedup.MixP}) AS minhash
        FROM ch, seeds GROUP BY doc_id, seed),
      bands AS (
        SELECT doc_id, seed // 4 AS band,
               md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed)) AS bandhash
        FROM sigs GROUP BY doc_id, seed // 4),
      cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bandhash = b.bandhash AND a.doc_id < b.doc_id),
      agree AS (
        SELECT da, db,
               sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / 16.0 AS est
        FROM cand
        JOIN sigs sa ON sa.doc_id = da
        JOIN sigs sb ON sb.doc_id = db AND sb.seed = sa.seed
        GROUP BY da, db)"""
  }

  val qDedupMinhash: Q = Q(
    "q_dedup_minhash",
    (spark, dir) => Dedup.minhashLshPairs(Tables.documents(spark, dir), 0.5),
    Some(s"""
      $minhashAgreeCtes
      SELECT da, db, round(est, 6) AS est_sim FROM agree
      WHERE est >= 0.5 ORDER BY da, db
      """.trim))

  /** LSH calibration gauge: over the MinHash candidate pairs at
    * est ≥ 0.5, compare the slot-agreement ESTIMATE to the exact
    * shingle-set Jaccard — pair count, both means, and the mean
    * absolute error, all through integer micro-units so no float-sum
    * order can drift. This is the measurement that justifies (or
    * re-tunes) the band/slot configuration before trusting LSH at
    * corpus scale; production computes the exact side only for the
    * candidate subset, exactly as here (the inner pair list IS the
    * candidate list; a zero-overlap candidate scores jaccard 0). */
  val qLshCalibration: Q = Q(
    "q_lsh_calibration",
    (spark, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, dir)
      val est = Dedup.minhashLshPairs(docs, 0.5)
      // exact Jaccard for every overlapping pair; LEFT join + coalesce
      // keeps a (vanishingly rare) zero-overlap LSH candidate at j=0
      // rather than silently dropping it from the error sum
      val exact = Dedup.jaccardPairs(docs, 0.0)
        .withColumnRenamed("jaccard", "j")
      def micro(c: org.apache.spark.sql.Column) =
        floor(c * 1000000d + 0.5).cast("long")
      est.join(exact, Seq("da", "db"), "left")
        .select(col("da"), col("db"), col("est_sim"),
          coalesce(col("j"), lit(0.0d)).as("j"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(micro(col("est_sim"))).as("est_micro"),
          sum(micro(col("j"))).as("true_micro"),
          sum(abs(micro(col("est_sim")) - micro(col("j")))).as("err_micro"))
        .select(col("n_pairs"),
          round(col("est_micro").cast("double") / col("n_pairs") / 1e6, 6)
            .as("mean_est"),
          round(col("true_micro").cast("double") / col("n_pairs") / 1e6, 6)
            .as("mean_true"),
          round(col("err_micro").cast("double") / col("n_pairs") / 1e6, 6)
            .as("mean_abs_err"))
    },
    Some(s"""
      $minhashAgreeCtes,
      est AS (SELECT da, db, round(est, 6) AS est_sim FROM agree WHERE est >= 0.5),
      shl AS (SELECT doc_id, list(DISTINCT shingle) AS sl FROM sh GROUP BY doc_id),
      scored AS (
        SELECT e.da, e.db,
               CAST(floor(e.est_sim * 1000000 + 0.5) AS BIGINT) AS em,
               CAST(floor(coalesce(
                 round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
                       (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6),
                 0.0) * 1000000 + 0.5) AS BIGINT) AS jm
        FROM est e
        LEFT JOIN shl a ON a.doc_id = e.da
        LEFT JOIN shl b ON b.doc_id = e.db)
      SELECT count(*) AS n_pairs,
             round(CAST(sum(em) AS DOUBLE) / count(*) / 1e6, 6) AS mean_est,
             round(CAST(sum(jm) AS DOUBLE) / count(*) / 1e6, 6) AS mean_true,
             round(CAST(sum(abs(em - jm)) AS DOUBLE) / count(*) / 1e6, 6) AS mean_abs_err
      FROM scored
      """.trim))

  /** 64-bit portable SimHash pairs within hamming distance 3. Spark
    * uses 16-bit pigeonhole block joins; the oracle brute-forces all
    * pairs. The oracle SQL is generated so the per-bit sums stay in
    * sync with [[Dedup.SimhashBits]]: bit i is bit `3-(i%4)` of md5
    * nibble `i/4` — exactly Spark's `(chunk(i/32) >> (31-i%32)) & 1`. */
  val qDedupSimhash: Q = {
    val bitSums = (0 until Dedup.SimhashBits).map { i =>
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substring(hx, ${i / 4 + 1}, 1)) - 1)" +
        s" >> ${3 - (i % 4)}) & 1 = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n               ")
    val valExpr = (0 until Dedup.SimhashBits).map { i =>
      s"(CASE WHEN b$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" | ")
    Q(
      "q_dedup_simhash",
      (spark, dir) => Dedup.simhashPairs(Tables.documents(spark, dir), 3),
      Some(s"""
      WITH t AS (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
      h AS (SELECT doc_id, md5(tok) AS hx FROM t),
      s AS (
        SELECT doc_id,
               $bitSums
        FROM h GROUP BY doc_id),
      v AS (SELECT doc_id, $valExpr AS sh FROM s)
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      FROM v a JOIN v b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3
      ORDER BY da, db
      """.trim))
  }

  /** The df-cap for the containment family: the production-scale bound
    * on the inverted index's per-shingle doc list (cap²/2 bounds the
    * in-row pair fan-out; with the cap the collect_list buffer is also
    * bounded by construction). 1000 is a no-op on the synthetic fixture
    * (max df ≈ 3) — [[JaccardCap]] already exercises a BITING cap on
    * the same machinery — but the oracle mirrors the filter so the two
    * engines stay in lockstep at any scale factor. */
  val ContainmentCap = 1000

  /** Asymmetric containment pairs at >= 0.6 in either direction —
    * subsumption detection (a short doc quoted inside a longer one
    * scores containment ~1.0 while its Jaccard shrinks with the size
    * gap, so the symmetric queries above never see it). Spark uses the
    * inverted shingle→doc-list index; the oracle brute-forces
    * list_intersect over all pairs — same math, independent plan. Both
    * engines threshold on the 6dp-ROUNDED ratios and apply the same
    * [[ContainmentCap]] df-cap. */
  val qDedupContainment: Q = Q(
    "q_dedup_containment",
    (spark, dir) => Dedup.containmentPairs(Tables.documents(spark, dir), 0.6,
      maxDf = Some(ContainmentCap)),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS tl FROM documents),
      shf AS (
        SELECT doc_id, unnest(list_distinct(
                 [array_to_string(tl[i:i+4], ' ')
                  FOR i IN generate_series(1, len(tl) - 4)])) AS shingle
        FROM toks WHERE len(tl) >= 5),
      dft AS (SELECT shingle, count(*) AS df FROM shf GROUP BY shingle),
      sh AS (
        SELECT doc_id, list(shf.shingle ORDER BY shf.shingle) AS sl
        FROM shf JOIN dft ON shf.shingle = dft.shingle
        WHERE dft.df <= $ContainmentCap
        GROUP BY doc_id)
      SELECT a.doc_id AS da, b.doc_id AS db,
             round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) / len(a.sl), 6) AS c_ab,
             round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) / len(b.sl), 6) AS c_ba
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND len(list_intersect(a.sl, b.sl)) > 0
        AND greatest(
              round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) / len(a.sl), 6),
              round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) / len(b.sl), 6)) >= 0.6
      ORDER BY da, db
    """.trim))

  /** Subsumption trim at containment >= 0.6: the corpus filter the
    * containment pairs exist for. The victim is DIRECTIONAL — the
    * more-contained side is dropped (its text lives on inside the
    * survivor), with mutual containment falling back to dropping the
    * larger doc_id. Contrast `q_dedup_keep`, whose near-dup groups
    * have no direction and keep an arbitrary (min-id) representative. */
  val qDedupSubsume: Q = Q(
    "q_dedup_subsume",
    (spark, dir) => Dedup.subsumptionTrim(Tables.documents(spark, dir), 0.6,
      maxDf = Some(ContainmentCap)),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS tl FROM documents),
      shf AS (
        SELECT doc_id, unnest(list_distinct(
                 [array_to_string(tl[i:i+4], ' ')
                  FOR i IN generate_series(1, len(tl) - 4)])) AS shingle
        FROM toks WHERE len(tl) >= 5),
      dft AS (SELECT shingle, count(*) AS df FROM shf GROUP BY shingle),
      shl AS (
        SELECT doc_id, list(shf.shingle ORDER BY shf.shingle) AS sl
        FROM shf JOIN dft ON shf.shingle = dft.shingle
        WHERE dft.df <= $ContainmentCap
        GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) / len(a.sl), 6) AS c_ab,
               round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) / len(b.sl), 6) AS c_ba
        FROM shl a, shl b
        WHERE a.doc_id < b.doc_id
          AND len(list_intersect(a.sl, b.sl)) > 0),
      victims AS (
        SELECT DISTINCT CASE WHEN c_ab > c_ba THEN da
                             WHEN c_ba > c_ab THEN db
                             ELSE greatest(da, db) END AS doc_id
        FROM pairs WHERE greatest(c_ab, c_ba) >= 0.6)
      SELECT d.source, count(*) AS n_docs,
             CAST(sum(CASE WHEN v.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_subsumed
      FROM documents d LEFT JOIN victims v ON d.doc_id = v.doc_id
      GROUP BY d.source ORDER BY d.source
    """.trim))

  /** Near-dup pairs → dedup GROUPS: connected components over the
    * capped-Jaccard pair list, each doc labeled with its component's
    * minimum doc id ("keep one per cluster" = `WHERE doc_id =
    * cluster`). Spark runs min-label propagation
    * ([[graft.operators.Clusters]]); the oracle computes the same
    * fixpoint via a recursive CTE — independent machinery. */
  val qDedupClusters: Q = Q(
    "q_dedup_clusters",
    (spark, dir) => {
      // The registered build step of the cluster-label artifact
      // (operators/ClusterArtifact.scala): pairs → CC run once,
      // written, and consumed by q_dedup_keep /
      // q_dedup_cluster_sizes as a label join.
      graft.operators.ClusterArtifact(0.5, JaccardCap).materialize(spark, dir)
      graft.operators.ClusterArtifact.labels(spark, dir, 0.5, JaccardCap)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE
      ${shinglesCte.stripPrefix("WITH ")},
      df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      kept AS (
        SELECT doc_id, list(sh.shingle ORDER BY sh.shingle) AS sl
        FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.df <= $JaccardCap
        GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM kept a, kept b
        WHERE a.doc_id < b.doc_id
          AND round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
              (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) >= 0.5),
      edges AS (
        SELECT da AS src, db AS dst FROM pairs
        UNION SELECT db, da FROM pairs),
      walk(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.node = e.dst)
      SELECT node AS doc_id, min(lbl) AS cluster
      FROM walk GROUP BY node ORDER BY doc_id
    """.trim))

  /** End-to-end dedup corpus filter: pairs → clusters → keep one
    * representative (the cluster-minimum doc) per near-dup group,
    * reported per source. This is the step that actually shrinks the
    * training corpus; everything upstream exists to make this filter a
    * cheap join. */
  /** Shared cluster-label CTE chain — shingle df-cap, exact-Jaccard
    * pairs, recursive label walk — ending at `cl(doc_id, cluster)`.
    * Used by `q_dedup_keep` here and by `q_corpus_clean`'s composed
    * oracle (SuffixQueries), so the two engines' notion of "cluster
    * representative" can never drift apart. */
  private[queries] def clusterCte: String = s"""${shinglesCte.stripPrefix("WITH ")},
      df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      kept AS (
        SELECT doc_id, list(sh.shingle ORDER BY sh.shingle) AS sl
        FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.df <= $JaccardCap
        GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM kept a, kept b
        WHERE a.doc_id < b.doc_id
          AND round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
              (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) >= 0.5),
      edges AS (
        SELECT da AS src, db AS dst FROM pairs
        UNION SELECT db, da FROM pairs),
      walk(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.node = e.dst),
      cl AS (SELECT node AS doc_id, min(lbl) AS cluster FROM walk GROUP BY node)"""

  val qDedupKeep: Q = Q(
    "q_dedup_keep",
    (spark, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, dir)
      val clusters = graft.operators.ClusterArtifact
        .labels(spark, dir, 0.5, JaccardCap)
      docs.join(clusters, Seq("doc_id"), "left")
        .select(col("source"),
          (col("cluster").isNull || col("cluster") === col("doc_id")).as("keep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH RECURSIVE
      $clusterCte
      SELECT d.source, count(*) AS n_docs,
             CAST(sum(CASE WHEN cl.cluster IS NULL OR cl.cluster = d.doc_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN cl.cluster IS NOT NULL AND cl.cluster <> d.doc_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
      GROUP BY d.source ORDER BY d.source
    """.trim))

  /** Bloom-filter ingest screen at the SHINGLE level: build the
    * membership sketch from the existing corpus's distinct 5-gram
    * shingles, probe it with the new batch's shingles (doc_id % 10
    * split — the same split the incremental minhash query uses), and
    * report the confusion summary against exact membership. A shingle
    * probe that comes back "not present" can skip the overlap join
    * entirely — the cheap pre-screen in front of the exact/near-dup
    * machinery. `n_false_neg` must be 0 by construction — both engines
    * deriving that zero checks the bit mechanics end to end; the FP
    * count is the sketch's measured quality gauge. The oracle rebuilds
    * the identical sketch (md5-chunk positions, 32-bit words, bit_or)
    * in SQL. */
  val qBloomScreen: Q = {
    val m = graft.operators.Bloom.NumBits
    val posList = (0 until graft.operators.Bloom.NumHashes)
      .map(i => s"${chunkSql(i)} % $m").mkString(", ")
    Q(
      "q_bloom_screen",
      (spark, dir) => {
        import org.apache.spark.sql.functions._
        import graft.operators.Bloom
        val docs = Tables.documents(spark, dir)
        val corpSh = Dedup.docShingles(docs.filter(col("doc_id") % 10 =!= 0))
          .select(col("shingle")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val batchSh = Dedup.docShingles(docs.filter(col("doc_id") % 10 === 0))
          .select(col("shingle")).distinct()
        val sketch = Bloom.build(corpSh, col("shingle"))
        val members = corpSh.withColumn("is_member", lit(true))
        Bloom.probe(batchSh, "shingle", col("shingle"), sketch)
          .join(members, Seq("shingle"), "left")
          .agg(
            count(lit(1)).as("n_probes"),
            sum(when(col("maybe"), 1L).otherwise(0L)).as("n_maybe"),
            sum(when(col("is_member").isNotNull, 1L).otherwise(0L)).as("n_members"),
            sum(when(col("maybe") && col("is_member").isNull, 1L).otherwise(0L))
              .as("n_false_pos"),
            sum(when(!col("maybe") && col("is_member").isNotNull, 1L).otherwise(0L))
              .as("n_false_neg"))
      },
      Some(s"""
      $shinglesCte,
      corp AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0),
      batch AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
      cpos AS (
        SELECT unnest([$posList]) AS pos
        FROM (SELECT md5(shingle) AS hx FROM corp)),
      sketch AS (
        SELECT pos // 32 AS word,
               bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
        FROM cpos GROUP BY pos // 32),
      bpos AS (
        SELECT shingle, unnest([$posList]) AS pos
        FROM (SELECT shingle, md5(shingle) AS hx FROM batch)),
      hits AS (
        SELECT shingle, count(*) AS n_hits
        FROM bpos b JOIN sketch s ON b.pos // 32 = s.word
        WHERE (s.bits & (1::BIGINT << CAST(b.pos % 32 AS INT))) <> 0
        GROUP BY shingle),
      probed AS (
        SELECT b.shingle, coalesce(h.n_hits, 0) = 4 AS maybe,
               b.shingle IN (SELECT shingle FROM corp) AS is_member
        FROM batch b LEFT JOIN hits h USING (shingle))
      SELECT count(*) AS n_probes,
             CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
             CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
             CAST(sum(CASE WHEN maybe AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
             CAST(sum(CASE WHEN NOT maybe AND is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
      FROM probed
      """.trim))
  }

  /** Eval-set contamination screening: fraction of each training doc's
    * 5-gram shingles that appear anywhere in the held-out set (source
    * 'src0' stands in for the eval benchmark). The eval shingle set is
    * small by nature, so Spark broadcasts it and the training corpus
    * never shuffles — contamination checks stay scan-shaped at any
    * corpus size. */
  /** The registered eval-set build step: (re)shingles the held-out
    * source and writes the distinct shingle set as a layout artifact
    * (`operators/EvalSetArtifact.scala`) that every contamination
    * screen broadcasts — the set is fixed per corpus, so deriving it
    * inside each screening query re-paid the shingle pass per query. */
  val qEvalShinglesBuild: Q = Q(
    "q_eval_shingles_build",
    (spark, dir) => {
      import org.apache.spark.sql.functions._
      graft.operators.EvalSetArtifact.materialize(spark, dir)
      graft.operators.EvalSetArtifact.shingles(spark, dir)
        .agg(count(lit(1)).as("n_shingles"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS tl
        FROM documents WHERE source = 'src0'),
      sh AS (
        SELECT unnest(list_distinct(
                 [array_to_string(tl[i:i+4], ' ')
                  FOR i IN generate_series(1, len(tl) - 4)])) AS shingle
        FROM toks WHERE len(tl) >= 5)
      SELECT count(DISTINCT shingle) AS n_shingles FROM sh
    """.trim))

  val qContamination: Q = Q(
    "q_contamination",
    (spark, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, dir)
      // one flagged broadcast join + ONE aggregate: every train
      // shingle row carries an in-eval marker, so totals and
      // contaminated counts ride the same groupBy — no persisted
      // shingle materialization, no second aggregate, and the train
      // corpus never shuffles on the shingle key.
      val evalSh = broadcast(graft.operators.EvalSetArtifact
        .shingles(spark, dir).withColumn("in_eval", lit(1L)))
      Dedup.docShingles(docs.filter(col("source") =!= "src0"), 5)
        .join(evalSh, Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("in_eval"), lit(0L))).as("n_contaminated"))
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          round(col("n_contaminated").cast("double")
            / col("n_shingles"), 6).as("contamination"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, source, string_split_regex(text, '\s+') AS tl FROM documents),
      sh2 AS (
        SELECT doc_id, source, unnest(list_distinct(
                 [array_to_string(tl[i:i+4], ' ')
                  FOR i IN generate_series(1, len(tl) - 4)])) AS shingle
        FROM toks WHERE len(tl) >= 5),
      es AS (SELECT DISTINCT shingle FROM sh2 WHERE source = 'src0'),
      tr AS (SELECT doc_id, shingle FROM sh2 WHERE source <> 'src0')
      SELECT t.doc_id, count(*) AS n_shingles,
             CAST(sum(CASE WHEN es.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
             round(CAST(sum(CASE WHEN es.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 6) AS contamination
      FROM tr t LEFT JOIN es ON t.shingle = es.shingle
      GROUP BY t.doc_id ORDER BY t.doc_id
    """.trim))

  /** Incremental ingest dedup: a new batch (doc_id % 10 = 0 stands in
    * for today's crawl) screened against the existing corpus index via
    * MinHash LSH — candidates only cross batch×index, never
    * index×index. The oracle builds signatures for everyone and applies
    * the same batch/index split at candidate time (identical values:
    * signatures are per-doc). */
  val qDedupIncremental: Q = {
    val seedRows = (0 until Dedup.MinhashSeeds).map(i =>
      s"(${i}, ${Dedup.MixA(i)}, ${Dedup.MixB(i)}, ${i % 4})").mkString(", ")
    Q(
      "q_dedup_incremental",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        Dedup.minhashLshPairsAgainst(
          index = docs.filter(col("doc_id") % 10 =!= 0),
          batch = docs.filter(col("doc_id") % 10 === 0),
          minEstSim = 0.5)
      },
      Some(s"""
      $shinglesCte,
      hx AS (SELECT doc_id, md5(shingle) AS hx FROM sh),
      ch AS (SELECT doc_id, ${chunkSql(0)} AS c0, ${chunkSql(1)} AS c1,
                    ${chunkSql(2)} AS c2, ${chunkSql(3)} AS c3 FROM hx),
      seeds(seed, a, b, cidx) AS (VALUES $seedRows),
      sigs AS (
        SELECT doc_id, seed,
               min(((CASE cidx WHEN 0 THEN c0 WHEN 1 THEN c1
                               WHEN 2 THEN c2 ELSE c3 END) * a + b)
                   % ${Dedup.MixP}) AS minhash
        FROM ch, seeds GROUP BY doc_id, seed),
      bands AS (
        SELECT doc_id, seed // 4 AS band,
               md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed)) AS bandhash
        FROM sigs GROUP BY doc_id, seed // 4),
      cand AS (
        SELECT DISTINCT nb.doc_id AS new_id, ix.doc_id AS dup_of
        FROM bands nb JOIN bands ix
          ON nb.band = ix.band AND nb.bandhash = ix.bandhash
        WHERE nb.doc_id % 10 = 0 AND ix.doc_id % 10 <> 0),
      agree AS (
        SELECT new_id, dup_of,
               sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / 16.0 AS est
        FROM cand
        JOIN sigs sa ON sa.doc_id = new_id
        JOIN sigs sb ON sb.doc_id = dup_of AND sb.seed = sa.seed
        GROUP BY new_id, dup_of)
      SELECT new_id, dup_of, round(est, 6) AS est_sim FROM agree
      WHERE est >= 0.5 ORDER BY new_id, dup_of
      """.trim))
  }

  /** LSH band-configuration sweep over ONE signature build: the 16
    * minhash slots banded three ways — 2 bands × 8 slots (strict:
    * few, high-precision candidates), 4 × 4 (the production setting),
    * 8 × 2 (loose: high recall, more verification work) — with each
    * configuration's candidate-pair count and how many survive the
    * est ≥ 0.5 verification. This is the table the band/slot
    * parameters are TUNED from (P[candidate] = 1-(1-J^r)^b moves
    * sharply with r), and the signature build — the corpus-scale
    * cost — runs once for all three. */
  val qLshBandSweep: Q = {
    val configs = Seq(2, 4, 8) // bands; slots per band = 16/bands
    Q(
      "q_lsh_band_sweep",
      (spark, dir) => {
        import org.apache.spark.sql.functions._
        val sigs = Dedup.minhashSignatures(Tables.documents(spark, dir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val agreeExpr = (0 until Dedup.MinhashSeeds).map(i =>
          when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / lit(Dedup.MinhashSeeds.toDouble)
        val perConfig = configs.map { nBands =>
          val r = Dedup.MinhashSeeds / nBands
          val bandCols = (0 until nBands).map { b =>
            md5(concat_ws("|",
              (0 until r).map(j => col(s"mh${b * r + j}")): _*))
          }
          val bands = sigs.select(col("doc_id"),
            posexplode(array(bandCols: _*)).as(Seq("band", "bandhash")))
          val cands = bands.as("a").join(bands.as("b"),
              col("a.band") === col("b.band") &&
                col("a.bandhash") === col("b.bandhash") &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
            .distinct()
          cands
            .join(sigs.as("sa"), col("da") === col("sa.doc_id"))
            .join(sigs.as("sb"), col("db") === col("sb.doc_id"))
            .select(agreeExpr.as("est"))
            .agg(count(lit(1)).as("n_candidates"),
              sum(when(col("est") >= 0.5, 1L).otherwise(0L)).as("n_est_pairs"))
            .select(lit(nBands).as("n_bands"), lit(r).as("slots_per_band"),
              col("n_candidates"), col("n_est_pairs"))
        }
        perConfig.reduce(_ unionAll _).orderBy(col("n_bands"))
      },
      Some {
        val seedRows = (0 until Dedup.MinhashSeeds).map(i =>
          s"(${i}, ${Dedup.MixA(i)}, ${Dedup.MixB(i)}, ${i % 4})").mkString(", ")
        val perConfig = configs.map { nBands =>
          val r = Dedup.MinhashSeeds / nBands
          s"""
          SELECT $nBands AS n_bands, $r AS slots_per_band,
                 count(*) AS n_candidates,
                 CAST(sum(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_est_pairs
          FROM (
            SELECT da, db,
                   sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / 16.0 AS est
            FROM (
              SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              FROM (SELECT doc_id, seed // $r AS band,
                           md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed)) AS bandhash
                    FROM sigs GROUP BY doc_id, seed // $r) a
              JOIN (SELECT doc_id, seed // $r AS band,
                           md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed)) AS bandhash
                    FROM sigs GROUP BY doc_id, seed // $r) b
                ON a.band = b.band AND a.bandhash = b.bandhash
                   AND a.doc_id < b.doc_id) cand
            JOIN sigs sa ON sa.doc_id = cand.da
            JOIN sigs sb ON sb.doc_id = cand.db AND sb.seed = sa.seed
            GROUP BY da, db)"""
        }.mkString("\nUNION ALL\n")
        s"""
      $shinglesCte,
      hx AS (SELECT doc_id, md5(shingle) AS hx FROM sh),
      ch AS (SELECT doc_id, ${chunkSql(0)} AS c0, ${chunkSql(1)} AS c1,
                    ${chunkSql(2)} AS c2, ${chunkSql(3)} AS c3 FROM hx),
      seeds(seed, a, b, cidx) AS (VALUES $seedRows),
      sigs AS (
        SELECT doc_id, seed,
               min(((CASE cidx WHEN 0 THEN c0 WHEN 1 THEN c1
                               WHEN 2 THEN c2 ELSE c3 END) * a + b)
                   % ${Dedup.MixP}) AS minhash
        FROM ch, seeds GROUP BY doc_id, seed)
      SELECT * FROM ($perConfig)
      ORDER BY n_bands
      """.trim
      })
  }

  /** Dedup report: the cluster-size histogram (how many near-dup
    * families of each size, how many docs they hold), with singleton
    * docs — never paired, absent from the CC labeling — restored as
    * the size-1 row via an anti-join. This is the table a curation
    * run publishes to justify its removal rate; fully declarative
    * (the singleton row is a DataFrame aggregate, not a driver
    * count), so the whole report is one job on top of the label
    * table. */
  val qDedupClusterSizes: Q = Q(
    "q_dedup_cluster_sizes",
    (spark, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, dir)
      val labels = graft.operators.ClusterArtifact
        .labels(spark, dir, 0.5, JaccardCap)
      val hist = labels.groupBy(col("cluster"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (count(lit(1)) * col("cluster_size")).as("n_docs"))
      val singletons = docs.join(labels, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_clusters"))
        .select(lit(1L).as("cluster_size"), col("n_clusters"),
          col("n_clusters").as("n_docs"))
      singletons.unionAll(hist)
        .groupBy(col("cluster_size"))
        .agg(sum(col("n_clusters")).as("n_clusters"),
          sum(col("n_docs")).as("n_docs"))
        .orderBy(col("cluster_size"))
    },
    Some(s"""
      WITH RECURSIVE
      ${shinglesCte.stripPrefix("WITH ")},
      df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      kept AS (
        SELECT doc_id, list(sh.shingle ORDER BY sh.shingle) AS sl
        FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.df <= $JaccardCap
        GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM kept a, kept b
        WHERE a.doc_id < b.doc_id
          AND round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
              (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) >= 0.5),
      edges AS (
        SELECT da AS src, db AS dst FROM pairs
        UNION SELECT db, da FROM pairs),
      walk(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.node = e.dst),
      cl AS (SELECT node AS doc_id, min(lbl) AS cluster FROM walk GROUP BY node),
      fam AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
              FROM cl GROUP BY cluster),
      hist AS (
        SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(count(*) * cluster_size AS BIGINT) AS n_docs
        FROM fam GROUP BY cluster_size),
      singles AS (
        SELECT CAST(1 AS BIGINT) AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents d WHERE NOT EXISTS
          (SELECT 1 FROM cl WHERE cl.doc_id = d.doc_id))
      SELECT cluster_size,
             CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
             CAST(sum(n_docs) AS BIGINT) AS n_docs
      FROM (SELECT * FROM singles UNION ALL SELECT * FROM hist)
      GROUP BY cluster_size ORDER BY cluster_size
    """.trim))

  /** Duplicate-discounted training weights: each doc in a near-dup
    * family of size s trains with weight 1/s (exact ppm by integer
    * division), unpaired docs with weight 1 — the standard
    * "count each piece of content once" reweighting that replaces a
    * hard keep-one filter when near-dups still carry stylistic
    * variation worth seeing. Reported per source: the effective
    * corpus size (Σ weights) next to the raw size, and how many docs
    * were discounted. Pure artifact consumer — two joins against the
    * materialized cluster-label table, the corpus text untouched. At
    * 100 TB this IS the job that emits a per-example weight column
    * for the trainer, and it costs a label-table join, not a dedup
    * rerun. */
  val qDedupWeights: Q = Q(
    "q_dedup_weights",
    (spark, dir) => {
      import org.apache.spark.sql.functions._
      val labels = graft.operators.ClusterArtifact
        .labels(spark, dir, 0.5, JaccardCap)
      val sizes = labels.groupBy(col("cluster"))
        .agg(count(lit(1)).as("csz"))
      Tables.documents(spark, dir).select(col("doc_id"), col("source"))
        .join(labels.join(sizes, "cluster"), Seq("doc_id"), "left")
        .select(col("source"),
          coalesce(expr("1000000 div csz"), lit(1000000L)).as("w_ppm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w_ppm")).as("eff_docs_ppm"),
          sum(when(col("w_ppm") < 1000000L, 1L).otherwise(0L))
            .as("n_discounted"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH RECURSIVE
      ${shinglesCte.stripPrefix("WITH ")},
      df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      kept AS (
        SELECT doc_id, list(sh.shingle ORDER BY sh.shingle) AS sl
        FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.df <= $JaccardCap
        GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM kept a, kept b
        WHERE a.doc_id < b.doc_id
          AND round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
              (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) >= 0.5),
      edges AS (
        SELECT da AS src, db AS dst FROM pairs
        UNION SELECT db, da FROM pairs),
      walk(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.node = e.dst),
      cl AS (SELECT node AS doc_id, min(lbl) AS cluster FROM walk GROUP BY node),
      sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS csz
             FROM cl GROUP BY cluster),
      w AS (
        SELECT d.source,
               CASE WHEN cl.cluster IS NULL THEN 1000000
                    ELSE 1000000 // sz.csz END AS w_ppm
        FROM documents d
        LEFT JOIN cl ON d.doc_id = cl.doc_id
        LEFT JOIN sz ON cl.cluster = sz.cluster)
      SELECT source, count(*) AS n_docs,
             CAST(sum(w_ppm) AS BIGINT) AS eff_docs_ppm,
             CAST(sum(CASE WHEN w_ppm < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_discounted
      FROM w GROUP BY source ORDER BY source
    """.trim))

  /** Cross-source duplication analysis over the cluster-label
    * artifact: does each near-dup family live inside one source or
    * span several? Cross-source families are the syndication/license
    * signal a curation run escalates (the same text arriving through
    * two feeds), within-source families are ordinary re-posts a keep-
    * one filter handles silently. One label-table join + two
    * aggregates — the artifact makes this report label-table-sized. */
  val qDedupCrossSource: Q = Q(
    "q_dedup_cross_source",
    (spark, dir) => {
      import org.apache.spark.sql.functions._
      val labeled = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"))
        .join(graft.operators.ClusterArtifact
          .labels(spark, dir, 0.5, JaccardCap), Seq("doc_id"))
      labeled.groupBy(col("cluster"))
        .agg(count(lit(1)).as("csize"),
          countDistinct(col("source")).as("n_sources"))
        .groupBy(col("n_sources"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("csize")).as("n_docs"))
        .orderBy(col("n_sources"))
    },
    Some(s"""
      WITH RECURSIVE
      ${shinglesCte.stripPrefix("WITH ")},
      df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      kept AS (
        SELECT doc_id, list(sh.shingle ORDER BY sh.shingle) AS sl
        FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.df <= $JaccardCap
        GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM kept a, kept b
        WHERE a.doc_id < b.doc_id
          AND round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
              (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) >= 0.5),
      edges AS (
        SELECT da AS src, db AS dst FROM pairs
        UNION SELECT db, da FROM pairs),
      walk(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.node = e.dst),
      cl AS (SELECT node AS doc_id, min(lbl) AS cluster FROM walk GROUP BY node),
      fam AS (
        SELECT cl.cluster, count(*) AS csize,
               count(DISTINCT d.source) AS n_sources
        FROM cl JOIN documents d ON cl.doc_id = d.doc_id
        GROUP BY cl.cluster)
      SELECT CAST(n_sources AS BIGINT) AS n_sources,
             count(*) AS n_clusters,
             CAST(sum(csize) AS BIGINT) AS n_docs
      FROM fam GROUP BY n_sources ORDER BY n_sources
    """.trim))

  /** Edit-distance near-dup: Levenshtein ≤ 3 on the 40-char document
    * head, with DUAL-KEY blocking — each head emits two block keys
    * (lang + length band + first-4-chars, lang + length band +
    * last-4-chars) and candidates agree on at least one. This is the
    * banded-LSH shape applied to fuzzy strings: a ≤3-edit pair almost
    * always leaves one end of the head untouched, while the exact
    * 4-char anchor keeps every block tiny (a length-band-only key
    * collapses to one |lang|-sized block per language — measured 2M
    * pairs and 92 s at sf0.1; anchored blocks are ≤ ~100 docs).
    * Candidates dedup BEFORE the levenshtein verify so pairs matching
    * both anchors pay one distance evaluation. */
  val qDedupEditdist: Q = Q(
    "q_dedup_editdist",
    (spark, dir) => {
      import org.apache.spark.sql.functions.expr
      // blocked candidates come from the shared artifact (round 13) —
      // the oracle still replays the full blocking from `documents`
      graft.operators.HeadPairsArtifact.pairs(spark, dir)
        // thresholded levenshtein: banded O(len·k) evaluation that
        // bails to -1 past the threshold — most candidates are NOT
        // near-dups, so the common case pays the cheap path
        .withColumn("dist", expr("levenshtein(ha, hb, 3)").cast("long"))
        .filter(col("dist") >= 0 && col("dist") <= 3)
        .select(col("id_a"), col("id_b"), col("lang"), col("dist"))
        .orderBy(col("id_a"), col("id_b"))
        .limit(200)
    },
    Some("""
      WITH h AS (
        SELECT doc_id, lang, substring(text, 1, 40) AS head,
               CAST(floor(length(substring(text, 1, 40)) / 4) AS BIGINT) AS band
        FROM documents),
      k AS (
        SELECT doc_id, lang, head, band,
               unnest(['P' || substring(head, 1, 4),
                       'S' || substring(head, greatest(length(head) - 3, 1), 4)])
                 AS bkey
        FROM h),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.lang AS lang, a.head AS ha, b.head AS hb
        FROM k a JOIN k b
          ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
         AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, lang, CAST(levenshtein(ha, hb) AS BIGINT) AS dist
      FROM cand WHERE levenshtein(ha, hb) <= 3
      ORDER BY id_a, id_b LIMIT 200
    """.trim))

  /** Cross-family composition: do near-duplicated documents carry a
    * different signal profile than unique ones? Joins the cluster-label
    * ARTIFACT (membership = the doc sits in some near-dup family)
    * against per-doc size signals and reports exact-integer-sum means
    * per (source, dup-status) — the check a curation pipeline runs
    * before assuming dedup is quality-neutral. Pure artifact consumer:
    * one broadcast-able label join + one aggregate. */
  val qDedupQualityProfile: Q = Q(
    "q_dedup_quality_profile",
    (spark, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, dir)
      val clusters = graft.operators.ClusterArtifact
        .labels(spark, dir, 0.5, JaccardCap)
        .select(col("doc_id"), col("cluster"))
      docs.join(clusters, Seq("doc_id"), "left")
        .select(col("source"), col("cluster").isNotNull.as("is_dup"),
          graft.operators.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("toks"),
          col("n_chars"))
        .groupBy(col("source"), col("is_dup"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .select(col("source"), col("is_dup"), col("n_docs"),
          round(col("sum_tokens").cast("double")
            / col("n_docs").cast("double"), 6).as("mean_tokens"),
          round(col("sum_chars").cast("double")
            / col("n_docs").cast("double"), 6).as("mean_chars"))
        .orderBy(col("source"), col("is_dup"))
    },
    Some(s"""
      WITH RECURSIVE
      ${shinglesCte.stripPrefix("WITH ")},
      df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      kept AS (
        SELECT doc_id, list(sh.shingle ORDER BY sh.shingle) AS sl
        FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.df <= $JaccardCap
        GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM kept a, kept b
        WHERE a.doc_id < b.doc_id
          AND round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
              (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) >= 0.5),
      edges AS (
        SELECT da AS src, db AS dst FROM pairs
        UNION SELECT db, da FROM pairs),
      walk(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.node = e.dst),
      lab AS (SELECT node AS doc_id, min(lbl) AS cluster
              FROM walk GROUP BY node)
      SELECT d.source, lab.doc_id IS NOT NULL AS is_dup,
             count(*) AS n_docs,
             round(CAST(sum(len(string_split_regex(d.text, '\\s+')))
                     AS DOUBLE) / count(*), 6) AS mean_tokens,
             round(CAST(sum(d.n_chars) AS DOUBLE) / count(*), 6) AS mean_chars
      FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2
    """.trim))

  /** Transposition-aware fuzzy dedup: same dual-anchor blocking as
    * `q_dedup_editdist`, but scored with the native unrestricted
    * Damerau-Levenshtein expression
    * ([[graft.functions.DamerauLevenshtein]]) next to plain
    * Levenshtein. Swapped-adjacent-character typos are the most common
    * human edit, and plain Levenshtein prices them at 2 — a threshold
    * tuned for "≤3 edits" silently halves its transposition budget.
    * `transposed` marks the pairs the DL metric re-prices. The oracle
    * is DuckDB's own `damerau_levenshtein` (independent
    * implementation, identical unrestricted semantics — pinned in
    * `StringDistanceSpec`). Scale: O(len·len) per CANDIDATE only —
    * the same blocked candidate set as editdist, never all-pairs. */
  val qDedupDamerau: Q = Q(
    "q_dedup_damerau",
    (spark, dir) => {
      import org.apache.spark.sql.functions.expr
      // blocked candidates come from the shared artifact (round 13);
      // `lang` drops out and the set stays distinct (lang is
      // functionally dependent on the pair)
      graft.operators.HeadPairsArtifact.pairs(spark, dir)
        .select(col("id_a"), col("id_b"), col("ha"), col("hb"))
        // lossless prefilter: one transposition costs ≤2 plain edits,
        // so dl ≤ 3 ⟹ lev ≤ 6 — the banded thresholded levenshtein
        // (O(len·k), bails past 6) rejects the bulk of candidates
        // before any full O(len²) DL table is built; survivors have
        // lev ≤ 6, so the thresholded value IS the exact distance
        .withColumn("lev", expr("levenshtein(ha, hb, 6)").cast("long"))
        .filter(col("lev") >= 0)
        .withColumn("dl",
          graft.functions.DamerauLevenshtein(col("ha"), col("hb")).cast("long"))
        .filter(col("dl") <= 3)
        .select(col("id_a"), col("id_b"), col("dl"), col("lev"),
          (col("dl") < col("lev")).as("transposed"))
        .orderBy(col("id_a"), col("id_b"))
        .limit(200)
    },
    Some("""
      WITH h AS (
        SELECT doc_id, lang, substring(text, 1, 40) AS head,
               CAST(floor(length(substring(text, 1, 40)) / 4) AS BIGINT) AS band
        FROM documents),
      k AS (
        SELECT doc_id, lang, head, band,
               unnest(['P' || substring(head, 1, 4),
                       'S' || substring(head, greatest(length(head) - 3, 1), 4)])
                 AS bkey
        FROM h),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.head AS ha, b.head AS hb
        FROM k a JOIN k b
          ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
         AND a.doc_id < b.doc_id)
      SELECT id_a, id_b,
             CAST(damerau_levenshtein(ha, hb) AS BIGINT) AS dl,
             CAST(levenshtein(ha, hb) AS BIGINT) AS lev,
             damerau_levenshtein(ha, hb) < levenshtein(ha, hb) AS transposed
      FROM cand WHERE damerau_levenshtein(ha, hb) <= 3
      ORDER BY id_a, id_b LIMIT 200
    """.trim))

  /** Jaro-Winkler record linkage — the similarity-scored (not
    * edit-counted) view of the same dual-anchor candidate space the
    * edit-distance dedups use: prefix/suffix-anchored, language- and
    * length-banded blocking over 40-char heads, then the native
    * [[graft.functions.JaroWinkler]] expression scores each pair and
    * only jw ≥ 0.90 survive. Where `q_dedup_editdist` asks "how many
    * edits apart", this asks the linkage question "same entity?" —
    * JW's prefix weighting keeps tail divergence cheap, which is the
    * right bias for heads that share openings. Scores are floor'd
    * integer micro-units; the oracle scores the identical candidates
    * with DuckDB's built-in `jaro_winkler_similarity`, which the
    * native expression replays bit-for-bit (fuzz-verified, including
    * the both-empty → 0 convention) — two INDEPENDENT implementations
    * agreeing on every pair. Per-pair cost is O(40²) on a blocked,
    * deduplicated candidate set; nothing is all-pairs. */
  val qLinkageJw: Q = Q(
    "q_linkage_jw",
    (spark, dir) => {
      import org.apache.spark.sql.functions.floor
      // blocked candidates come from the shared artifact (round 13)
      graft.operators.HeadPairsArtifact.pairs(spark, dir)
        .select(col("id_a"), col("id_b"), col("ha"), col("hb"))
        .withColumn("jw_micro",
          floor(graft.functions.JaroWinkler(col("ha"), col("hb")) * 1000000)
            .cast("long"))
        .filter(col("jw_micro") >= 900000)
        .select(col("id_a"), col("id_b"), col("jw_micro"))
        .orderBy(col("id_a"), col("id_b"))
        .limit(200)
    },
    Some("""
      WITH h AS (
        SELECT doc_id, lang, substring(text, 1, 40) AS head,
               CAST(floor(length(substring(text, 1, 40)) / 4) AS BIGINT) AS band
        FROM documents),
      k AS (
        SELECT doc_id, lang, head, band,
               unnest(['P' || substring(head, 1, 4),
                       'S' || substring(head, greatest(length(head) - 3, 1), 4)])
                 AS bkey
        FROM h),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.head AS ha, b.head AS hb
        FROM k a JOIN k b
          ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
         AND a.doc_id < b.doc_id)
      SELECT id_a, id_b,
             CAST(floor(jaro_winkler_similarity(ha, hb) * 1000000) AS BIGINT)
               AS jw_micro
      FROM cand
      WHERE CAST(floor(jaro_winkler_similarity(ha, hb) * 1000000) AS BIGINT)
              >= 900000
      ORDER BY id_a, id_b LIMIT 200
    """.trim))

  /** End-to-end entity resolution: the Jaro-Winkler linkage pairs
    * (same blocking and jw ≥ 0.90 gate as `q_linkage_jw`) fold into
    * CANONICAL ENTITIES via min-label connected components — linkage
    * says "same entity?", this materializes the entity: family-size
    * histogram with the sum of canonical (minimum-member) ids as a
    * membership checksum. Spark runs the distributed label-propagation
    * CC; the oracle replays the identical pairs and closes them with a
    * recursive CTE — two different fixpoint mechanics agreeing on
    * every component. */
  val qLinkageEntities: Q = Q(
    "q_linkage_entities",
    (spark, dir) => {
      import org.apache.spark.sql.functions.{count, floor, lit, sum}
      // blocked candidates come from the shared artifact (round 13)
      val pairs = graft.operators.HeadPairsArtifact.pairs(spark, dir)
        .filter(floor(graft.functions.JaroWinkler(col("ha"), col("hb"))
          * 1000000).cast("long") >= 900000)
        .select(col("id_a"), col("id_b"))
      graft.operators.Clusters.connectedComponents(pairs, "id_a", "id_b")
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
        .groupBy(col("n_members"))
        .agg(count(lit(1)).as("n_entities"),
          sum(col("cluster")).as("canon_checksum"))
        .orderBy(col("n_members"))
    },
    Some("""
      WITH RECURSIVE h AS (
        SELECT doc_id, lang, substring(text, 1, 40) AS head,
               CAST(floor(length(substring(text, 1, 40)) / 4) AS BIGINT) AS band
        FROM documents),
      k AS (
        SELECT doc_id, lang, head, band,
               unnest(['P' || substring(head, 1, 4),
                       'S' || substring(head, greatest(length(head) - 3, 1), 4)])
                 AS bkey
        FROM h),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.head AS ha, b.head AS hb
        FROM k a JOIN k b
          ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
         AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT id_a, id_b FROM cand
        WHERE CAST(floor(jaro_winkler_similarity(ha, hb) * 1000000) AS BIGINT)
                >= 900000),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      walk(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.node = e.dst),
      labels AS (
        SELECT node AS doc_id, min(lbl) AS cluster FROM walk GROUP BY node),
      ents AS (
        SELECT cluster, count(*) AS n_members FROM labels GROUP BY cluster)
      SELECT n_members, count(*) AS n_entities,
             CAST(sum(cluster) AS BIGINT) AS canon_checksum
      FROM ents GROUP BY n_members ORDER BY n_members
    """.trim))

  /** Split-leakage audit: val/test documents that share a near-dup
    * family with a train document — the train/eval contamination a
    * random split inflicts whenever near-duplicates exist (the eval
    * metric silently becomes a memorization test). Composes two
    * existing deterministic pieces: the hash-stable split assignment
    * (`q_split_assign`) and the cluster-label ARTIFACT
    * (`q_dedup_clusters`) — membership grouping is all that matters,
    * and both engines derive identical components. Scale: one label
    * join + one semi join on cluster id + two source-sized aggregates;
    * the cluster table is dup-families only (≪ corpus). */
  val qSplitLeakage: Q = Q(
    "q_split_leakage",
    (spark, dir) => {
      import org.apache.spark.sql.functions.{coalesce, count, expr, lit}
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          graft.operators.Sampling.splitLabel(col("doc_id"),
            Seq("train" -> 9800, "val" -> 9900, "test" -> 10000)).as("split"))
      val labels = graft.operators.ClusterArtifact
        .labels(spark, dir, 0.5, JaccardCap)
        .select(col("doc_id"), col("cluster"))
      val lab = docs.join(labels, "doc_id")
      val trainClusters = lab.filter(col("split") === "train")
        .select(col("cluster")).distinct()
      val leaked = lab.filter(col("split") =!= "train")
        .join(trainClusters, Seq("cluster"), "left_semi")
        .groupBy(col("source")).agg(count(lit(1)).as("n_leak"))
      docs.filter(col("split") =!= "train")
        .groupBy(col("source")).agg(count(lit(1)).as("n_eval"))
        .join(leaked, Seq("source"), "left")
        .select(col("source"), col("n_eval"),
          coalesce(col("n_leak"), lit(0L)).as("n_leaked"),
          expr("coalesce(n_leak, 0L) * 1000000L DIV n_eval")
            .as("leak_micros"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH RECURSIVE
      ${shinglesCte.stripPrefix("WITH ")},
      df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      kept AS (
        SELECT doc_id, list(sh.shingle ORDER BY sh.shingle) AS sl
        FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.df <= $JaccardCap
        GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM kept a, kept b
        WHERE a.doc_id < b.doc_id
          AND round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
              (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) >= 0.5),
      edges AS (
        SELECT da AS src, db AS dst FROM pairs
        UNION SELECT db, da FROM pairs),
      walk(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.node = e.dst),
      lab AS (SELECT node AS doc_id, min(lbl) AS cluster
              FROM walk GROUP BY node),
      split AS (
        SELECT doc_id, source,
               CASE WHEN ${AnalyticsQueries.bpSql("doc_id")} < 9800 THEN 'train'
                    WHEN ${AnalyticsQueries.bpSql("doc_id")} < 9900 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents),
      tc AS (
        SELECT DISTINCT l.cluster
        FROM lab l JOIN split s ON l.doc_id = s.doc_id
        WHERE s.split = 'train'),
      leaked AS (
        SELECT s.source, count(*) AS n_leak
        FROM split s
        JOIN lab l ON s.doc_id = l.doc_id
        JOIN tc ON l.cluster = tc.cluster
        WHERE s.split <> 'train' GROUP BY s.source),
      ev AS (
        SELECT source, count(*) AS n_eval FROM split
        WHERE split <> 'train' GROUP BY source)
      SELECT ev.source, ev.n_eval,
             CAST(coalesce(leaked.n_leak, 0) AS BIGINT) AS n_leaked,
             CAST((coalesce(leaked.n_leak, 0) * 1000000) // ev.n_eval AS BIGINT)
               AS leak_micros
      FROM ev LEFT JOIN leaked ON ev.source = leaked.source
      ORDER BY ev.source
    """.trim))

  /** Exact Mann-Whitney AUC per source of the quality score as a
    * near-dup discriminator: does low quality predict membership in a
    * dedup cluster? The rank-sum identity AUC = (R⁺ − n⁺(n⁺+1)/2) /
    * (n⁺·n⁻) needs only a per-source rank of the 6dp-rounded score —
    * ties get their average rank, carried as the INTEGER 2·avg =
    * 2·min_rank + tie_count − 1, so every sum is exact BIGINT
    * arithmetic and the micro-unit division floors identically in both
    * engines. AUC < 0.5 means duplicated docs score LOWER quality than
    * unique ones (the curation assumption); ≈0.5 means the score is
    * blind to duplication. Sources with an empty class drop out
    * (AUC undefined).
    *
    * Scale: one broadcastable label join (the cluster artifact is
    * dup-members only), then windows partitioned BY SOURCE — no global
    * sort; the rank stage parallelizes across sources exactly like the
    * shard-plan ranking. The rank-sum R⁺ grows O(n²) per source, so
    * the micro-unit product stays inside BIGINT up to ~2M docs per
    * source; past that, run the audit on the deterministic hash sample
    * ([[graft.operators.Sampling.hashSample]]) — AUC is a probability,
    * unbiased under uniform subsampling of both classes. */
  val qEvalAuc: Q = Q(
    "q_eval_auc",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val labels = graft.operators.ClusterArtifact
        .labels(spark, dir, 0.5, JaccardCap)
        .select(col("doc_id"), col("cluster"))
      val scored = Tables.documents(spark, dir)
        .join(labels, Seq("doc_id"), "left")
        .select(col("source"),
          graft.operators.TextAnalysis.qualityScore(col("text")).as("q"),
          col("cluster").isNotNull.cast("long").as("pos"))
      val ranked = scored
        .withColumn("r",
          rank().over(Window.partitionBy(col("source")).orderBy(col("q")))
            .cast("long"))
        .withColumn("two_avg",
          lit(2L) * col("r")
            + count(lit(1)).over(Window.partitionBy(col("source"), col("q")))
            - lit(1L))
      ranked.groupBy(col("source"))
        .agg(sum(col("pos")).as("n_dup"),
          (count(lit(1)) - sum(col("pos"))).as("n_uniq"),
          sum(col("two_avg") * col("pos")).as("r2"))
        .filter(col("n_dup") > 0 && col("n_uniq") > 0)
        .select(col("source"), col("n_dup"), col("n_uniq"),
          expr("(r2 - n_dup * (n_dup + 1)) * 1000000 DIV (2 * n_dup * n_uniq)")
            .as("auc_micros"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH RECURSIVE
      ${shinglesCte.stripPrefix("WITH ")},
      df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      kept AS (
        SELECT doc_id, list(sh.shingle ORDER BY sh.shingle) AS sl
        FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.df <= $JaccardCap
        GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM kept a, kept b
        WHERE a.doc_id < b.doc_id
          AND round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE) /
              (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))), 6) >= 0.5),
      edges AS (
        SELECT da AS src, db AS dst FROM pairs
        UNION SELECT db, da FROM pairs),
      walk(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.node = e.dst),
      lab AS (SELECT node AS doc_id, min(lbl) AS cluster
              FROM walk GROUP BY node),
      scored AS (
        SELECT d.source,
               round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3 +
                     (1.0 - CAST(n_stopwords AS DOUBLE) / n_tokens) * 0.3 +
                     (CAST(n_unique AS DOUBLE) / n_tokens) * 0.4, 6) AS q,
               CASE WHEN lab.doc_id IS NULL THEN 0 ELSE 1 END AS pos
        FROM (
          SELECT doc_id, source,
                 len(toks) AS n_tokens,
                 len(list_filter(toks, x -> x IN ('the', 'a'))) AS n_stopwords,
                 len(list_distinct(toks)) AS n_unique
          FROM (SELECT doc_id, source,
                       string_split_regex(text, '\\s+') AS toks
                FROM documents)) d
        LEFT JOIN lab ON d.doc_id = lab.doc_id),
      ranked AS (
        SELECT source, pos,
               2 * rank() OVER (PARTITION BY source ORDER BY q)
                 + count(*) OVER (PARTITION BY source, q) - 1 AS two_avg
        FROM scored),
      agg AS (
        SELECT source,
               CAST(sum(pos) AS BIGINT) AS n_dup,
               CAST(count(*) - sum(pos) AS BIGINT) AS n_uniq,
               CAST(sum(two_avg * pos) AS BIGINT) AS r2
        FROM ranked GROUP BY source)
      SELECT source, n_dup, n_uniq,
             CAST((r2 - n_dup * (n_dup + 1)) * 1000000
                  // (2 * n_dup * n_uniq) AS BIGINT) AS auc_micros
      FROM agg WHERE n_dup > 0 AND n_uniq > 0
      ORDER BY source
    """.trim))

  def all: Seq[Q] = Seq(
    qDedupExact, qDedupNgramJaccard, qDedupJaccardCapped, qDedupMinhash,
    qDedupSimhash, qDedupContainment, qDedupSubsume, qDedupClusters,
    qDedupKeep, qEvalShinglesBuild, qContamination, qDedupIncremental, qBloomScreen,
    qLshCalibration, qLshBandSweep, qDedupClusterSizes, qDedupWeights,
    qDedupCrossSource,
    qDedupEditdist, qDedupDamerau, qLinkageJw, qLinkageEntities,
    qDedupQualityProfile, qSplitLeakage, qEvalAuc)
}
