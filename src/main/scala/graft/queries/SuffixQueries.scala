package graft.queries

import graft.{Q, Tables}
import graft.operators.SuffixArray
import org.apache.spark.sql.functions._

/** Suffix-array family — exact-substring duplicate discovery at
  * ARBITRARY match length, the capability the fixed-n shingle passes
  * (`q_dedup_substring*`) cannot express: a suffix array orders every
  * suffix of the corpus, so the longest repeated substrings fall out
  * of rank adjacency (the mechanism behind the public ExactSubstr
  * dedup result, Lee et al. 2022). Construction is prefix doubling —
  * the distributed-memory SA algorithm of Flick & Aluru (SC'15):
  * log2(window) rounds of join + distributed sort-and-scan re-rank,
  * no single-partition step anywhere (see [[SuffixArray]]).
  *
  * The DuckDB oracles replay the identical doubling rounds as
  * MATERIALIZED CTEs (each level feeds two downstream reads — without
  * materialization the CTE tree re-evaluates exponentially) with
  * `dense_rank() - 1` playing the distributed ordinal-scan role; the
  * two rankings agree exactly because a dense rank over distinct keys
  * IS the sorted ordinal. */
object SuffixQueries {

  /** Chars of the suffix window — 128 keeps the doubling at 7 rounds
    * and caps reported matches at 128 chars (a match that long is a
    * duplicated document prefix, which is what the trim/drop decision
    * needs; the window widens by adding rounds, one per doubling). */
  private val MaxLen = graft.operators.SuffixArtifact.MaxLen
  // from the artifact, so a window change can never desync the
  // oracle's doubling-round CTE chain from the stored levels
  private val Rounds = graft.operators.SuffixArtifact.Rounds

  /** Doubling-round CTE chain `pos, r0 .. r{Rounds}` shared by both
    * oracles. MATERIALIZED: every level is read twice (as both join
    * sides of the next level) and the LCP walk reads all levels. */
  private def doublingCte: String = {
    val blocks = Seq(
      s"""pos AS MATERIALIZED (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |         CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT) AS code
         |  FROM (SELECT doc_id, text,
         |          unnest(generate_series(1, least(length(text), $MaxLen))) AS i
         |        FROM documents))""".stripMargin,
      "r0 AS MATERIALIZED (SELECT doc_id, pos, dense_rank() OVER " +
        "(ORDER BY code) - 1 AS rank FROM pos)") ++
      (1 to Rounds).flatMap { k =>
        val off = 1 << (k - 1)
        Seq(
          s"""p$k AS (
             |  SELECT a.doc_id, a.pos, a.rank AS k1, coalesce(b.rank, -1) AS k2
             |  FROM r${k - 1} a LEFT JOIN r${k - 1} b
             |    ON b.doc_id = a.doc_id AND b.pos = a.pos + $off)""".stripMargin,
          s"r$k AS MATERIALIZED (SELECT doc_id, pos, dense_rank() OVER " +
            s"(ORDER BY k1, k2) - 1 AS rank FROM p$k)")
      }
    "WITH " + blocks.mkString(",\n")
  }

  /** The suffix array itself, smoke-sized: the 100 lexicographically
    * smallest suffixes (rank, position, 16-char prefix). Rank ties =
    * identical truncated suffixes; order is fully deterministic via
    * (rank, doc_id, pos). Since round 12 the plain family is a VIEW
    * over the strided artifact ([[graft.operators.SuffixArtifact]]
    * block-0 derivation): `materialize` here triggers the ONE shared
    * strided build, which also pays the final-level dense re-rank once
    * and stores it (`plain_dense`) — per-run cost is a small parquet
    * read. The oracle still replays the standalone plain doubling —
    * the hash match is the proof the derivation is exact. */
  val qSuffixArray: Q = Q(
    "q_suffix_array",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      graft.operators.StridedSuffixArtifact.materialize(spark, dir)
      graft.operators.SuffixArtifact.last(spark, dir)
        .orderBy(col("rank"), col("doc_id"), col("pos"))
        .limit(100)
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("rank").as("sa_rank"), col("doc_id"), col("pos"),
          col("text").substr(col("pos").cast("int") + 1, lit(16)).as("prefix"))
        .orderBy(col("sa_rank"), col("doc_id"), col("pos"))
    },
    Some(doublingCte + s""",
      top AS (
        SELECT CAST(rank AS BIGINT) AS sa_rank, doc_id, pos
        FROM r$Rounds ORDER BY rank, doc_id, pos LIMIT 100)
      SELECT t.sa_rank, t.doc_id, t.pos,
             substr(d.text, CAST(t.pos AS INT) + 1, 16) AS prefix
      FROM top t JOIN documents d USING (doc_id)
      ORDER BY sa_rank, doc_id, pos
    """))

  /** Longest repeated substrings (exact, arbitrary length, capped at
    * $MaxLen): top-20 left-maximal rank-adjacent suffix pairs by LCP.
    * Equal final ranks contribute their shared truncated-suffix
    * length; consecutive ranks get the classic greedy rank-table LCP
    * walk (one lookup per level). The left-maximality filter (prior
    * characters differ, or a suffix starts at 0) collapses the shadow
    * family a length-L match drags behind it (its L-1 suffixes) to
    * the single maximal row — without it the output is the same match
    * reported L times. lcp = $MaxLen means "the entire window" — an
    * exact duplicated document prefix. */
  val qDedupLrs: Q = Q(
    "q_dedup_lrs",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      // registered build step of the PLAIN pair artifact (round 12):
      // pays the rank-adjacency LCP pass once and stores its output;
      // per-run work is a pair-table scan. The left-maximality filter
      // (prior characters differ) reads the characters straight off
      // the broadcast document texts — `substr(t, pos, 1)` at 1-based
      // index pos IS the character before 0-based pos, exactly the
      // `code` the positions table used to supply.
      graft.operators.PlainLrsPairsArtifact.materialize(spark, dir)
      graft.operators.PlainLrsPairsArtifact.pairs(spark, dir)
        .join(broadcast(docs.select(col("doc_id").as("doc_a"),
          col("text").as("ta"))), Seq("doc_a"))
        .join(broadcast(docs.select(col("doc_id").as("doc_b"),
          col("text").as("tb"))), Seq("doc_b"))
        .filter(col("pos_a") === 0 || col("pos_b") === 0 ||
          col("ta").substr(col("pos_a").cast("int"), lit(1)) =!=
            col("tb").substr(col("pos_b").cast("int"), lit(1)))
        .filter(col("lcp") >= 10)
        .orderBy(col("lcp").desc, col("doc_a"), col("pos_a"),
          col("doc_b"), col("pos_b"))
        .limit(20)
        .select(col("lcp"), col("doc_a"), col("pos_a"),
          col("doc_b"), col("pos_b"),
          col("ta").substr(col("pos_a").cast("int") + 1,
            col("lcp").cast("int")).as("snippet"),
          (col("doc_a") === col("doc_b")).as("same_doc"))
        .orderBy(col("lcp").desc, col("doc_a"), col("pos_a"),
          col("doc_b"), col("pos_b"))
    },
    Some(doublingCte + s""",
      sa AS MATERIALIZED (
        SELECT r.doc_id, r.pos, r.rank,
               least(length(d.text), $MaxLen) - r.pos AS suffix_len
        FROM r$Rounds r JOIN documents d USING (doc_id)),
      mem AS MATERIALIZED (
        SELECT rank, doc_id, pos, suffix_len,
               row_number() OVER (PARTITION BY rank
                 ORDER BY doc_id, pos) AS rn,
               min(suffix_len) OVER (PARTITION BY rank) AS min_len
        FROM sa),
      eqp AS (
        SELECT a.doc_id AS doc_a, a.pos AS pos_a, b.doc_id AS doc_b,
               b.pos AS pos_b, CAST(a.min_len AS BIGINT) AS lcp
        FROM mem a JOIN mem b ON a.rank = b.rank AND a.rn = 1 AND b.rn = 2),
      reps AS MATERIALIZED (
        SELECT rank, doc_id, pos, min_len FROM mem WHERE rn = 1),
      w${Rounds} AS (
        SELECT x.doc_id AS doc_a, x.pos AS pos_a, y.doc_id AS doc_b,
               y.pos AS pos_b, least(x.min_len, y.min_len) AS cap,
               CAST(0 AS BIGINT) AS lcp
        FROM reps x JOIN reps y ON y.rank = x.rank + 1)""" +
      (Rounds - 1 to 0 by -1).map { k =>
        s""",
      w$k AS (
        SELECT f.doc_a, f.pos_a, f.doc_b, f.pos_b, f.cap,
               CASE WHEN ra.rank IS NOT NULL AND ra.rank = rb.rank
                    THEN f.lcp + ${1 << k} ELSE f.lcp END AS lcp
        FROM w${k + 1} f
        LEFT JOIN r$k ra ON ra.doc_id = f.doc_a AND ra.pos = f.pos_a + f.lcp
        LEFT JOIN r$k rb ON rb.doc_id = f.doc_b AND rb.pos = f.pos_b + f.lcp)"""
      }.mkString + s""",
      allp AS (
        SELECT * FROM eqp UNION ALL
        SELECT doc_a, pos_a, doc_b, pos_b, least(lcp, cap) AS lcp FROM w0),
      lm AS (
        SELECT p.* FROM allp p
        LEFT JOIN pos ca ON ca.doc_id = p.doc_a AND ca.pos = p.pos_a - 1
        LEFT JOIN pos cb ON cb.doc_id = p.doc_b AND cb.pos = p.pos_b - 1
        WHERE ca.code IS NULL OR cb.code IS NULL OR ca.code <> cb.code),
      top AS (
        SELECT * FROM lm WHERE lcp >= 10
        ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b LIMIT 20)
      SELECT t.lcp, t.doc_a, t.pos_a, t.doc_b, t.pos_b,
             substr(d.text, CAST(t.pos_a AS INT) + 1, CAST(t.lcp AS INT))
               AS snippet,
             t.doc_a = t.doc_b AS same_doc
      FROM top t JOIN documents d ON d.doc_id = t.doc_a
      ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b
    """))

  // ---------------------------------------------------------------
  // Strided windows — repeats anywhere in a document
  // ---------------------------------------------------------------

  private val Window = graft.operators.StridedSuffixArtifact.Window
  private val Stride = graft.operators.StridedSuffixArtifact.Stride
  private val BlockBase = graft.operators.SuffixArray.BlockBase

  /** Doubling chain over the strided BLOCK view: same r0..rK rounds,
    * but `doc_id` carries the arithmetic block id `doc*BlockBase+blk`
    * and a `blocks` CTE slices the overlapping windows first. */
  private def stridedCte: String = {
    val blocks = Seq(
      s"""blocks AS MATERIALIZED (
         |  SELECT doc_id * $BlockBase + blk AS doc_id,
         |         substr(text, CAST(blk * $Stride AS INT) + 1, $Window) AS text
         |  FROM (SELECT doc_id, text,
         |          unnest(generate_series(0, (length(text) - 1) // $Stride)) AS blk
         |        FROM documents WHERE length(text) > 0
         |          AND length(text) <= ${BlockBase * Stride}))""".stripMargin,
      s"""pos AS MATERIALIZED (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |         CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT) AS code
         |  FROM (SELECT doc_id, text,
         |          unnest(generate_series(1, length(text))) AS i
         |        FROM blocks))""".stripMargin,
      "r0 AS MATERIALIZED (SELECT doc_id, pos, dense_rank() OVER " +
        "(ORDER BY code) - 1 AS rank FROM pos)") ++
      (1 to Rounds).flatMap { k =>
        val off = 1 << (k - 1)
        Seq(
          s"""p$k AS (
             |  SELECT a.doc_id, a.pos, a.rank AS k1, coalesce(b.rank, -1) AS k2
             |  FROM r${k - 1} a LEFT JOIN r${k - 1} b
             |    ON b.doc_id = a.doc_id AND b.pos = a.pos + $off)""".stripMargin,
          s"r$k AS MATERIALIZED (SELECT doc_id, pos, dense_rank() OVER " +
            s"(ORDER BY k1, k2) - 1 AS rank FROM p$k)")
      } ++ Seq(
      // final level with block length, GLOBAL coordinates, suffix_len
      s"""sa AS MATERIALIZED (
         |  SELECT r.doc_id AS bid, r.pos, r.rank, b.blen - r.pos AS suffix_len,
         |         r.doc_id // $BlockBase AS gdoc,
         |         (r.doc_id % $BlockBase) * $Stride + r.pos AS gpos
         |  FROM r$Rounds r
         |  JOIN (SELECT doc_id, max(pos) + 1 AS blen FROM pos GROUP BY doc_id) b
         |    ON b.doc_id = r.doc_id)""".stripMargin)
    "WITH " + blocks.mkString(",\n")
  }

  /** Seam-reconciled repeat-pair chain over the strided suffix
    * array — rank-group members (`gmem`/`m1`), the equal-rank and
    * adjacent-rank pair families, the greedy per-level LCP walk, and
    * the canonicalized `best(doc_a, pos_a, doc_b, pos_b, lcp)` table.
    * Shared VERBATIM by every strided-family oracle (lrs, cross,
    * apply, corpus-clean) so the walk semantics can never drift
    * between them. Appended directly after [[stridedCte]]. */
  private def bestPairsCte: String = s""",
      gmem AS MATERIALIZED (
        SELECT rank, gdoc, gpos,
               row_number() OVER (PARTITION BY rank
                 ORDER BY gdoc, gpos) AS rn
        FROM (SELECT DISTINCT rank, gdoc, gpos FROM sa)),
      m1 AS MATERIALIZED (
        SELECT rank, gdoc, gpos, bid, pos, suffix_len AS len
        FROM (SELECT rank, gdoc, gpos, bid, pos, suffix_len,
                row_number() OVER (PARTITION BY rank
                  ORDER BY gdoc, gpos, bid, pos) AS rn
              FROM sa) WHERE rn = 1),
      eqp AS (
        SELECT a.gdoc AS doc_a, a.gpos AS pos_a, b.gdoc AS doc_b,
               b.gpos AS pos_b, CAST(m.len AS BIGINT) AS lcp
        FROM gmem a JOIN gmem b ON a.rank = b.rank AND a.rn = 1 AND b.rn = 2
        JOIN m1 m ON m.rank = a.rank),
      w${Rounds} AS (
        SELECT x.gdoc AS doc_a, x.gpos AS pos_a, x.bid AS bid_a,
               x.pos AS bpos_a, y.gdoc AS doc_b, y.gpos AS pos_b,
               y.bid AS bid_b, y.pos AS bpos_b,
               least(x.len, y.len) AS cap, CAST(0 AS BIGINT) AS lcp
        FROM m1 x JOIN m1 y ON y.rank = x.rank + 1)""" +
      (Rounds - 1 to 0 by -1).map { k =>
        s""",
      w$k AS (
        SELECT f.doc_a, f.pos_a, f.bid_a, f.bpos_a, f.doc_b, f.pos_b,
               f.bid_b, f.bpos_b, f.cap,
               CASE WHEN ra.rank IS NOT NULL AND ra.rank = rb.rank
                    THEN f.lcp + ${1 << k} ELSE f.lcp END AS lcp
        FROM w${k + 1} f
        LEFT JOIN r$k ra ON ra.doc_id = f.bid_a AND ra.pos = f.bpos_a + f.lcp
        LEFT JOIN r$k rb ON rb.doc_id = f.bid_b AND rb.pos = f.bpos_b + f.lcp)"""
      }.mkString + s""",
      allp AS (
        SELECT doc_a, pos_a, doc_b, pos_b, lcp FROM eqp
        UNION ALL
        SELECT doc_a, pos_a, doc_b, pos_b, least(lcp, cap) AS lcp FROM w0),
      best AS (
        SELECT CASE WHEN (doc_a, pos_a) <= (doc_b, pos_b)
                    THEN doc_a ELSE doc_b END AS doc_a,
               CASE WHEN (doc_a, pos_a) <= (doc_b, pos_b)
                    THEN pos_a ELSE pos_b END AS pos_a,
               CASE WHEN (doc_a, pos_a) <= (doc_b, pos_b)
                    THEN doc_b ELSE doc_a END AS doc_b,
               CASE WHEN (doc_a, pos_a) <= (doc_b, pos_b)
                    THEN pos_b ELSE pos_a END AS pos_b,
               max(lcp) AS lcp
        FROM allp
        WHERE NOT (doc_a = doc_b AND pos_a = pos_b)
        GROUP BY 1, 2, 3, 4)"""

  /** Strided suffix array, smoke-sized: the 100 smallest distinct
    * (rank, global position) suffix entries — block copies of one
    * global position collapse via DISTINCT. Registered BUILD STEP of
    * the strided rank table ([[graft.operators.StridedSuffixArtifact]]);
    * `q_dedup_lrs_strided` consumes the stored levels. */
  val qSuffixArrayStrided: Q = Q(
    "q_suffix_array_strided",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      graft.operators.StridedSuffixArtifact.materialize(spark, dir)
      graft.operators.StridedSuffixArtifact.last(spark, dir)
        .select(col("rank").as("sa_rank"),
          expr(s"doc_id DIV $BlockBase").as("doc_id"),
          (pmod(col("doc_id"), lit(BlockBase)) * Stride + col("pos"))
            .as("pos"))
        .distinct()
        .orderBy(col("sa_rank"), col("doc_id"), col("pos"))
        .limit(100)
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("sa_rank"), col("doc_id"), col("pos"),
          col("text").substr(col("pos").cast("int") + 1, lit(16)).as("prefix"))
        .orderBy(col("sa_rank"), col("doc_id"), col("pos"))
    },
    Some(stridedCte + s""",
      top AS (
        SELECT DISTINCT CAST(rank AS BIGINT) AS sa_rank, gdoc AS doc_id,
               gpos AS pos
        FROM sa ORDER BY sa_rank, doc_id, pos LIMIT 100)
      SELECT t.sa_rank, t.doc_id, t.pos,
             substr(d.text, CAST(t.pos AS INT) + 1, 16) AS prefix
      FROM top t JOIN documents d USING (doc_id)
      ORDER BY sa_rank, doc_id, pos
    """))

  /** Longest repeated substrings ANYWHERE in each document — the
    * strided-block answer to the plain `q_dedup_lrs`'s first-128-chars
    * scope: exact for matches up to ${Stride} chars (guaranteed
    * in-block lookahead), opportunistic to $Window. Block-copy pair
    * hits are reconciled to one row per unordered global pair at the
    * max lcp; self-pairs (two copies of one position) are dropped. */
  val qDedupLrsStrided: Q = Q(
    "q_dedup_lrs_strided",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      // registered build step of the PAIR artifact: pays the greedy
      // LCP walk once and stores its output; cross-source and any
      // future repeat consumers read the stored pairs
      graft.operators.StridedLrsPairsArtifact.materialize(spark, dir)
      graft.operators.StridedLrsPairsArtifact.pairs(spark, dir)
        .join(broadcast(docs.select(col("doc_id").as("doc_a"),
          col("text").as("ta"))), Seq("doc_a"))
        .join(broadcast(docs.select(col("doc_id").as("doc_b"),
          col("text").as("tb"))), Seq("doc_b"))
        .filter(col("pos_a") === 0 || col("pos_b") === 0 ||
          col("ta").substr(col("pos_a").cast("int"), lit(1)) =!=
            col("tb").substr(col("pos_b").cast("int"), lit(1)))
        .filter(col("lcp") >= 10)
        .orderBy(col("lcp").desc, col("doc_a"), col("pos_a"),
          col("doc_b"), col("pos_b"))
        .limit(20)
        .select(col("lcp"), col("doc_a"), col("pos_a"),
          col("doc_b"), col("pos_b"),
          col("ta").substr(col("pos_a").cast("int") + 1,
            col("lcp").cast("int")).as("snippet"),
          (col("doc_a") === col("doc_b")).as("same_doc"))
        .orderBy(col("lcp").desc, col("doc_a"), col("pos_a"),
          col("doc_b"), col("pos_b"))
    },
    Some(stridedCte + bestPairsCte + s""",
      lm AS (
        SELECT p.* FROM best p
        JOIN documents xa ON xa.doc_id = p.doc_a
        JOIN documents xb ON xb.doc_id = p.doc_b
        WHERE p.pos_a = 0 OR p.pos_b = 0
           OR substr(xa.text, CAST(p.pos_a AS INT), 1)
              <> substr(xb.text, CAST(p.pos_b AS INT), 1)),
      top AS (
        SELECT * FROM lm WHERE lcp >= 10
        ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b LIMIT 20)
      SELECT t.lcp, t.doc_a, t.pos_a, t.doc_b, t.pos_b,
             substr(d.text, CAST(t.pos_a AS INT) + 1, CAST(t.lcp AS INT))
               AS snippet,
             t.doc_a = t.doc_b AS same_doc
      FROM top t JOIN documents d ON d.doc_id = t.doc_a
      ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b
    """))

  /** Cross-source EXACT-substring contamination matrix — the audit an
    * eval-decontamination decision reads: for every unordered source
    * pair, how many distinct ≥20-char exact repeats link documents of
    * the two sources (left-maximal, so a length-L match counts once,
    * not L times), and the worst such repeat. The exact-substring
    * complement of `q_dedup_cross_source` (which reads the NEAR-dup
    * cluster labels): shingle clusters catch whole-document syndication,
    * this table catches verbatim SPANS — quotes, boilerplate, leaked
    * eval items — too short to cluster documents. Same-document pairs are
    * excluded; same-source cells stay (intra-source duplication is a
    * signal too). CONSUMES the stored pair artifact
    * ([[graft.operators.StridedLrsPairsArtifact]] — built/priced by
    * `q_dedup_lrs_strided`): the audit is a pair-table scan + a
    * broadcast source join, never a re-walk. */
  val qDedupExactCross: Q = Q(
    "q_dedup_exact_cross",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      graft.operators.StridedLrsPairsArtifact.pairs(spark, dir)
        .filter(col("lcp") >= 20 && col("doc_a") =!= col("doc_b"))
        .join(broadcast(docs.select(col("doc_id").as("doc_a"),
          col("source").as("sa"), col("text").as("ta"))), Seq("doc_a"))
        .join(broadcast(docs.select(col("doc_id").as("doc_b"),
          col("source").as("sb"), col("text").as("tb"))), Seq("doc_b"))
        .filter(col("pos_a") === 0 || col("pos_b") === 0 ||
          col("ta").substr(col("pos_a").cast("int"), lit(1)) =!=
            col("tb").substr(col("pos_b").cast("int"), lit(1)))
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"), col("lcp"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_repeats"), max(col("lcp")).as("max_lcp"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some(stridedCte + bestPairsCte + s""",
      lm AS (
        SELECT p.*, xa.source AS sa, xb.source AS sb FROM best p
        JOIN documents xa ON xa.doc_id = p.doc_a
        JOIN documents xb ON xb.doc_id = p.doc_b
        WHERE p.lcp >= 20 AND p.doc_a <> p.doc_b
          AND (p.pos_a = 0 OR p.pos_b = 0
           OR substr(xa.text, CAST(p.pos_a AS INT), 1)
              <> substr(xb.text, CAST(p.pos_b AS INT), 1)))
      SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
             count(*) AS n_repeats, CAST(max(lcp) AS BIGINT) AS max_lcp
      FROM lm GROUP BY 1, 2 ORDER BY source_a, source_b
    """))

  /** EXACT-substring dedup APPLY — the trim step of the Lee et al.
    * (2022) ExactSubstr pipeline, over the stored pair artifact: every
    * ≥20-char repeat keeps its canonical FIRST occurrence and marks
    * the later one's span `[pos_b, pos_b + lcp)` for removal; spans
    * merge per document (gaps-and-islands over a per-doc window —
    * shadow pairs are subsumed by their maximal span, so no
    * left-maximality pass is needed), and the report is the
    * per-source removal budget a trim run is sized by: docs touched,
    * exact chars removed, removal ppm. Pair-table-sized work — the
    * walk was paid once by `q_dedup_lrs_strided`. */
  val qDedupExactApply: Q = Q(
    "q_dedup_exact_apply",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.{Window => W}
      val docs = Tables.documents(spark, dir)
      val spans = graft.operators.StridedLrsPairsArtifact.pairs(spark, dir)
        .filter(col("lcp") >= 20 &&
          (col("doc_a") =!= col("doc_b") || col("pos_a") =!= col("pos_b")))
        .select(col("doc_b").as("doc_id"), col("pos_b").as("s"),
          (col("pos_b") + col("lcp")).as("e"))
      val wPrev = W.partitionBy(col("doc_id"))
        .orderBy(col("s"), col("e"))
        .rowsBetween(W.unboundedPreceding, -1)
      val wRun = W.partitionBy(col("doc_id"))
        .orderBy(col("s"), col("e"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val removed = spans
        .withColumn("pmax", max(col("e")).over(wPrev))
        .withColumn("gid", sum(when(col("pmax").isNull ||
          col("s") >= col("pmax"), 1L).otherwise(0L)).over(wRun))
        .groupBy(col("doc_id"), col("gid"))
        .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
        .groupBy(col("doc_id"))
        .agg(sum(col("me") - col("ms")).as("removed"))
      docs.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("chars"))
        .join(removed, Seq("doc_id"), "left")
        .select(col("source"), col("chars"),
          coalesce(col("removed"), lit(0L)).as("removed"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("removed") > 0).cast("long")).as("n_docs_trimmed"),
          sum(col("chars")).as("chars_total"),
          sum(col("removed")).as("chars_removed"))
        .withColumn("removed_ppm",
          expr("chars_removed * 1000000 DIV chars_total"))
        .orderBy(col("source"))
    },
    Some(stridedCte + bestPairsCte + s""",
      sp AS (
        SELECT doc_b AS doc_id, pos_b AS s, pos_b + lcp AS e
        FROM best WHERE lcp >= 20),
      ordd AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM sp),
      isl AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN pmax IS NULL OR s >= pmax THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        FROM ordd),
      mg AS (
        SELECT doc_id, gid, min(s) AS ms, max(e) AS me
        FROM isl GROUP BY 1, 2),
      per AS (
        SELECT doc_id, sum(me - ms) AS removed FROM mg GROUP BY 1),
      alld AS (
        SELECT d.source, CAST(length(d.text) AS BIGINT) AS chars,
               coalesce(p.removed, 0) AS removed
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id)
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_trimmed,
             CAST(sum(chars) AS BIGINT) AS chars_total,
             CAST(sum(removed) AS BIGINT) AS chars_removed,
             CAST(sum(removed) * 1000000 // sum(chars) AS BIGINT)
               AS removed_ppm
      FROM alld GROUP BY source ORDER BY source
    """))

  /** The materialized CLEAN-CORPUS view — the composition the three
    * removal plans were built for: `q_dedup_keep`'s cluster-keep
    * decides which DOCUMENTS survive, the exact-substring pair
    * artifact's merged spans decide which CHARACTERS survive inside
    * them, and the result is the per-doc manifest a mixture/shard
    * planner consumes: `(doc_id, source, chars, chars_removed,
    * chars_clean, shard_idx)` for every kept document, `shard_idx` =
    * the 2048-char concat-and-chunk shard (per source, doc_id order)
    * the cleaned text starts in — the char-unit analog of
    * `q_tokenized_shards`' BPE manifest, over the CLEANED corpus.
    *
    * Composition rule worth stating: an exact span is subtracted only
    * when BOTH endpoints of its repeat pair survive cluster-keep — a
    * span whose canonical first occurrence was dropped with its
    * near-dup document would otherwise delete the corpus's only
    * remaining copy of that text. Work shape: label join + pair-table
    * scan + per-doc windows (bounded by spans-per-doc) + one
    * per-source running sum (the q_tokenized_shards manifest shape);
    * the cluster walk and LCP walk were both paid once by their
    * artifact build steps. */
  val qCorpusClean: Q = Q(
    "q_corpus_clean",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.{Window => W}
      val docs = Tables.documents(spark, dir)
      val labels = graft.operators.ClusterArtifact
        .labels(spark, dir, 0.5, DedupQueries.JaccardCap)
      val kept = docs.join(labels, Seq("doc_id"), "left")
        .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("chars"))
      val spans = graft.operators.StridedLrsPairsArtifact.pairs(spark, dir)
        .filter(col("lcp") >= 20 &&
          (col("doc_a") =!= col("doc_b") || col("pos_a") =!= col("pos_b")))
        .join(kept.select(col("doc_id").as("doc_a")), Seq("doc_a"))
        .join(kept.select(col("doc_id").as("doc_b")), Seq("doc_b"))
        .select(col("doc_b").as("doc_id"), col("pos_b").as("s"),
          (col("pos_b") + col("lcp")).as("e"))
      val wPrev = W.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
        .rowsBetween(W.unboundedPreceding, -1)
      val wRun = W.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val removed = spans
        .withColumn("pmax", max(col("e")).over(wPrev))
        .withColumn("gid", sum(when(col("pmax").isNull ||
          col("s") >= col("pmax"), 1L).otherwise(0L)).over(wRun))
        .groupBy(col("doc_id"), col("gid"))
        .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
        .groupBy(col("doc_id"))
        .agg(sum(col("me") - col("ms")).as("removed"))
      val wShard = W.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(W.unboundedPreceding, -1)
      kept.join(removed, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("chars"),
          coalesce(col("removed"), lit(0L)).as("chars_removed"),
          (col("chars") - coalesce(col("removed"), lit(0L)))
            .as("chars_clean"))
        .withColumn("cum_prev",
          coalesce(sum(col("chars_clean")).over(wShard), lit(0L)))
        .select(col("doc_id"), col("source"), col("chars"),
          col("chars_removed"), col("chars_clean"),
          expr("cum_prev DIV 2048").as("shard_idx"))
        .orderBy(col("doc_id"))
    },
    Some("WITH RECURSIVE\n      " + DedupQueries.clusterCte + ",\n      " +
      stridedCte.stripPrefix("WITH ") + bestPairsCte + s""",
      keepd AS (
        SELECT d.doc_id, d.source, CAST(length(d.text) AS BIGINT) AS chars
        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
        WHERE cl.cluster IS NULL OR cl.cluster = d.doc_id),
      sp AS (
        SELECT b.doc_b AS doc_id, b.pos_b AS s, b.pos_b + b.lcp AS e
        FROM best b
        JOIN keepd ka ON ka.doc_id = b.doc_a
        JOIN keepd kb ON kb.doc_id = b.doc_b
        WHERE b.lcp >= 20),
      ordd AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM sp),
      isl AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN pmax IS NULL OR s >= pmax THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        FROM ordd),
      mg AS (
        SELECT doc_id, gid, min(s) AS ms, max(e) AS me
        FROM isl GROUP BY 1, 2),
      per AS (
        SELECT doc_id, CAST(sum(me - ms) AS BIGINT) AS removed
        FROM mg GROUP BY 1),
      pd AS (
        SELECT k.doc_id, k.source, k.chars,
               coalesce(p.removed, 0) AS chars_removed,
               k.chars - coalesce(p.removed, 0) AS chars_clean
        FROM keepd k LEFT JOIN per p ON p.doc_id = k.doc_id)
      SELECT doc_id, source, chars, chars_removed, chars_clean,
             CAST(coalesce(sum(chars_clean) OVER (PARTITION BY source
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
               1 PRECEDING), 0) // 2048 AS BIGINT) AS shard_idx
      FROM pd ORDER BY doc_id
    """))

  /** Incremental EXACT-substring dedup — the arriving-batch path the
    * MinHash family already has (`q_dedup_incremental`), closed for
    * the suffix family: batch documents (`doc_id % 10 = 0`, the
    * registry's standard incremental split) are screened against the
    * corpus (the rest) THROUGH the stored suffix artifact, never
    * rebuilding it — [[SuffixArray.batchScreen]] merges the batch's
    * suffixes into the stored rank order, takes each one's nearest
    * corpus rank-neighbors (the max-lcp partner, by the SA adjacency
    * property) and greedy-walks exactly those pairs. Per batch doc:
    * how many of its positions start a ≥20-char exact repeat of
    * corpus text, and the longest such repeat. The artifact is
    * read-only here — its stored rows stay byte-identical. The
    * DuckDB oracle replays the neighbor merge as two ASOF joins
    * against the same doubling chain. */
  val qDedupExactIncremental: Q = Q(
    "q_dedup_exact_incremental",
    (spark, dir) => {
      SuffixArray.batchScreen(
          graft.operators.StridedSuffixArtifact.last(spark, dir),
          graft.operators.StridedSuffixArtifact.blockText(spark, dir),
          Stride, gdoc => pmod(gdoc, lit(10)) === 0)
        .groupBy(col("gdoc"))
        .agg(sum(when(col("lcp") >= 20, 1L).otherwise(0L)).as("n_pos20"),
          max(col("lcp")).as("max_lcp"))
        .select(col("gdoc").as("doc_id"), col("n_pos20"), col("max_lcp"))
        .orderBy(col("doc_id"))
    },
    Some(stridedCte + s""",
      br AS MATERIALIZED (SELECT * FROM sa WHERE gdoc % 10 = 0),
      cr AS MATERIALIZED (SELECT * FROM sa WHERE gdoc % 10 <> 0),
      prd AS (
        SELECT b.gdoc, b.gpos, b.rank AS rank_a, b.bid AS bid_a,
               b.pos AS bpos_a, b.suffix_len AS len_a, c.rank AS rank_b,
               c.bid AS bid_b, c.pos AS bpos_b, c.suffix_len AS len_b
        FROM br b ASOF JOIN cr c ON b.rank >= c.rank),
      suc AS (
        SELECT b.gdoc, b.gpos, b.rank AS rank_a, b.bid AS bid_a,
               b.pos AS bpos_a, b.suffix_len AS len_a, c.rank AS rank_b,
               c.bid AS bid_b, c.pos AS bpos_b, c.suffix_len AS len_b
        FROM br b ASOF JOIN cr c ON b.rank < c.rank),
      v$Rounds AS (
        SELECT *, least(len_a, len_b) AS cap, CAST(0 AS BIGINT) AS lcp
        FROM (SELECT * FROM prd UNION ALL SELECT * FROM suc))""" +
      (Rounds - 1 to 0 by -1).map { k =>
        s""",
      v$k AS (
        SELECT f.gdoc, f.gpos, f.rank_a, f.bid_a, f.bpos_a, f.rank_b,
               f.bid_b, f.bpos_b, f.cap,
               CASE WHEN ra.rank IS NOT NULL AND ra.rank = rb.rank
                    THEN f.lcp + ${1 << k} ELSE f.lcp END AS lcp
        FROM v${k + 1} f
        LEFT JOIN r$k ra ON ra.doc_id = f.bid_a AND ra.pos = f.bpos_a + f.lcp
        LEFT JOIN r$k rb ON rb.doc_id = f.bid_b AND rb.pos = f.bpos_b + f.lcp)"""
      }.mkString + s""",
      bestp AS (
        SELECT gdoc, gpos,
               max(CASE WHEN rank_a = rank_b THEN cap
                        ELSE least(lcp, cap) END) AS lcp
        FROM v0 GROUP BY 1, 2)
      SELECT gdoc AS doc_id,
             CAST(sum(CASE WHEN lcp >= 20 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos20,
             CAST(max(lcp) AS BIGINT) AS max_lcp
      FROM bestp GROUP BY gdoc ORDER BY doc_id
    """))

  val all: Seq[Q] =
    Seq(qSuffixArray, qDedupLrs, qSuffixArrayStrided, qDedupLrsStrided,
      qDedupExactCross, qDedupExactApply, qCorpusClean,
      qDedupExactIncremental)
}
