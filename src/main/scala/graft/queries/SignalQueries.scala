package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.TextAnalysis

/** Cross-signal corpus diagnostics: distribution-drift divergence,
  * collocation mining, metadata dependence, and signal-correlation
  * audits — the statistical layer a curation pipeline reads before
  * trusting its per-doc quality signals or re-weighting a mixture.
  *
  * Determinism discipline (same as the entropy/Zipf family): every
  * per-row transcendental term is floored/rounded to integer nano- or
  * micro-units BEFORE any cross-partition sum, so both engines
  * aggregate identical BIGINTs and doubles appear only in final
  * one-row-per-group arithmetic. */
object SignalQueries {

  /** Jensen-Shannon divergence of each source's unigram distribution
    * against the whole-corpus distribution — the canonical
    * corpus-drift / mixture-skew gauge (bounded [0, ln 2], symmetric,
    * defined even where a source misses tokens). The decomposition
    * keeps the absent-token mass CLOSED-FORM: for tokens the source
    * never emits, m = q/2 so the KL(Q||M) term is exactly q·ln 2 —
    * only tokens PRESENT in the source are ever joined, and the
    * absent mass falls out of the exact integer token counts. One
    * (source, token) aggregate, one token-level join against the
    * corpus marginal, per-source rollup — nothing wider than the
    * vocabulary shuffles, and the two one-row totals broadcast. */
  val qTextJsd: Q = Q(
    "q_text_jsd",
    (spark, dir) => {
      val cst = Tables.documents(spark, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c_st"))
      val ct = cst.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
      val ns = cst.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
      val total = ct.agg(sum(col("c_t")).as("n_total"))
      val p = col("c_st").cast("double") / col("n_s").cast("double")
      val q = col("c_t").cast("double") / col("n_total").cast("double")
      val m = (p + q) / lit(2.0d)
      val joined = cst.join(ct, "tok")
        .join(broadcast(ns), "source")
        .crossJoin(broadcast(total))
        .select(col("source"), col("n_s"), col("n_total"), col("c_t"),
          floor(p * log(p / m) * lit(1e9)).cast("long").as("p_nanos"),
          floor(q * log(q / m) * lit(1e9)).cast("long").as("q_nanos"))
      joined.groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tokens"),
          max(col("n_total")).as("n_total"),
          count(lit(1)).as("vocab_present"),
          sum(col("c_t")).as("present_ct"),
          sum(col("p_nanos")).as("p_sum"),
          sum(col("q_nanos")).as("q_sum"))
        .select(col("source"), col("n_tokens"), col("vocab_present"),
          round((col("p_sum").cast("double") / 1e9
            + col("q_sum").cast("double") / 1e9
            + log(lit(2.0d)) * (lit(1.0d)
              - col("present_ct").cast("double") / col("n_total").cast("double")))
            / 2.0d, 6).as("jsd_nats"))
        .orderBy(col("source"))
    },
    Some("""
      WITH toks AS (
        SELECT source, tok FROM (
          SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
          FROM documents)
        WHERE len(tok) > 0),
      cst AS (
        SELECT source, tok, count(*) AS c_st FROM toks GROUP BY source, tok),
      ct AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM cst GROUP BY tok),
      ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM cst GROUP BY source),
      total AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_total FROM ct),
      terms AS (
        SELECT source, n_s, n_total, c_t,
               CAST(floor((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
                 * ln((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
                      / (((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
                          + (CAST(c_t AS DOUBLE) / CAST(n_total AS DOUBLE))) / 2.0))
                 * 1e9) AS BIGINT) AS p_nanos,
               CAST(floor((CAST(c_t AS DOUBLE) / CAST(n_total AS DOUBLE))
                 * ln((CAST(c_t AS DOUBLE) / CAST(n_total AS DOUBLE))
                      / (((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
                          + (CAST(c_t AS DOUBLE) / CAST(n_total AS DOUBLE))) / 2.0))
                 * 1e9) AS BIGINT) AS q_nanos
        FROM cst JOIN ct USING (tok) JOIN ns USING (source), total)
      SELECT source, max(n_s) AS n_tokens, count(*) AS vocab_present,
             round((CAST(sum(p_nanos) AS DOUBLE) / 1e9
                    + CAST(sum(q_nanos) AS DOUBLE) / 1e9
                    + ln(2.0) * (1.0 - CAST(sum(c_t) AS DOUBLE)
                                 / CAST(max(n_total) AS DOUBLE)))
                   / 2.0, 6) AS jsd_nats
      FROM terms GROUP BY source ORDER BY source
    """.trim))

  /** Top-20 bigram collocations by Dunning log-likelihood ratio — the
    * classic significance test for "these two tokens co-occur more
    * than chance" (multiword-expression mining for tokenizer vocab
    * building). All four contingency-cell counts derive from exact
    * integer bigram marginals in one exploded pass; the LLR is
    * per-candidate-row double math over those integers, floored to
    * micro-units before the top-k ordering so ranking ties resolve
    * identically across engines. The c12 ≥ 5 support floor bounds the
    * candidate set to the frequent tail — at 100 TB that floor is the
    * standard count-min prefilter and the marginals stay vocab-sized. */
  val qTextCollocations: Q = Q(
    "q_text_collocations",
    (spark, dir) => {
      val grams = Tables.documents(spark, dir)
        .select(explode(TextAnalysis.shingles(col("text"), 2)).as("bigram"))
        .select(col("bigram"),
          substring_index(col("bigram"), " ", 1).as("w1"),
          substring_index(col("bigram"), " ", -1).as("w2"))
      val bg = grams.groupBy(col("bigram"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val w1t = bg.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val w2t = bg.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
      val total = bg.agg(sum(col("c12")).as("n_total"))
      def xlx(c: org.apache.spark.sql.Column) = {
        val d = c.cast("double")
        when(c > 0, d * log(d)).otherwise(lit(0.0d))
      }
      val k11 = col("c12")
      val k12 = col("c1") - col("c12")
      val k21 = col("c2") - col("c12")
      val k22 = col("n_total") - col("c1") - col("c2") + col("c12")
      val llr = (xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22) + xlx(col("n_total"))
        - xlx(col("c1")) - xlx(col("n_total") - col("c1"))
        - xlx(col("c2")) - xlx(col("n_total") - col("c2"))) * lit(2.0d)
      bg.filter(col("c12") >= 5)
        .join(w1t, "w1").join(w2t, "w2")
        .crossJoin(broadcast(total))
        .select(col("bigram"), col("c12"), col("c1"), col("c2"),
          floor(llr * lit(1e6)).cast("long").as("llr_micros"))
        .orderBy(col("llr_micros").desc, col("bigram"))
        .limit(20)
    },
    Some("""
      WITH toks AS (
        SELECT string_split_regex(text, '\s+') AS tl FROM documents),
      grams AS (
        SELECT unnest([array_to_string(tl[i:i+1], ' ')
                       FOR i IN generate_series(1, len(tl) - 1)]) AS bigram
        FROM toks WHERE len(tl) >= 2),
      bg AS (
        SELECT bigram, string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2, count(*) AS c12
        FROM grams GROUP BY bigram),
      w1t AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg GROUP BY w1),
      w2t AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM bg GROUP BY w2),
      total AS (SELECT CAST(sum(c12) AS BIGINT) AS n_total FROM bg),
      cand AS (
        SELECT bigram, c12, c1, c2, n_total,
               c12 AS k11, c1 - c12 AS k12, c2 - c12 AS k21,
               n_total - c1 - c2 + c12 AS k22
        FROM bg JOIN w1t USING (w1) JOIN w2t USING (w2), total
        WHERE c12 >= 5),
      scored AS (
        SELECT bigram, c12, c1, c2,
               CAST(floor((
                 (CASE WHEN k11 > 0 THEN CAST(k11 AS DOUBLE) * ln(CAST(k11 AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN k12 > 0 THEN CAST(k12 AS DOUBLE) * ln(CAST(k12 AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN k21 > 0 THEN CAST(k21 AS DOUBLE) * ln(CAST(k21 AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN k22 > 0 THEN CAST(k22 AS DOUBLE) * ln(CAST(k22 AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN n_total > 0 THEN CAST(n_total AS DOUBLE) * ln(CAST(n_total AS DOUBLE)) ELSE 0.0 END
                  - CASE WHEN c1 > 0 THEN CAST(c1 AS DOUBLE) * ln(CAST(c1 AS DOUBLE)) ELSE 0.0 END
                  - CASE WHEN n_total - c1 > 0 THEN CAST(n_total - c1 AS DOUBLE) * ln(CAST(n_total - c1 AS DOUBLE)) ELSE 0.0 END
                  - CASE WHEN c2 > 0 THEN CAST(c2 AS DOUBLE) * ln(CAST(c2 AS DOUBLE)) ELSE 0.0 END
                  - CASE WHEN n_total - c2 > 0 THEN CAST(n_total - c2 AS DOUBLE) * ln(CAST(n_total - c2 AS DOUBLE)) ELSE 0.0 END
                 ) * 2.0) * 1e6) AS BIGINT) AS llr_micros
        FROM cand)
      SELECT bigram, c12, c1, c2, llr_micros
      FROM scored ORDER BY llr_micros DESC, bigram LIMIT 20
    """.trim))

  /** Pearson correlation matrix of the per-doc curation signals
    * (token count, distinct-token count, char length), per source —
    * the collinearity audit a quality-model feature set needs (two
    * signals correlated at 0.99 are one signal; a near-zero pair
    * justifies keeping both). Every moment (n, Σx, Σxy, Σx², …) is an
    * exact integer sum of per-doc integer products, so the shuffle
    * carries nine BIGINTs per source and the correlations are one-row
    * double arithmetic at the end. */
  val qSignalCorr: Q = Q(
    "q_signal_corr",
    (spark, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val perDoc = Tables.documents(spark, dir)
        .select(col("source"),
          size(toks).cast("long").as("x"),
          size(array_distinct(toks)).cast("long").as("y"),
          col("n_chars").as("z"))
      val s = perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("z") * col("z")).as("szz"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("z")).as("sxz"),
          sum(col("y") * col("z")).as("syz"))
      def corr(n: org.apache.spark.sql.Column,
          sa: org.apache.spark.sql.Column, sb: org.apache.spark.sql.Column,
          saa: org.apache.spark.sql.Column, sbb: org.apache.spark.sql.Column,
          sab: org.apache.spark.sql.Column) =
        round((n.cast("double") * sab.cast("double")
          - sa.cast("double") * sb.cast("double"))
          / (sqrt(n.cast("double") * saa.cast("double")
              - sa.cast("double") * sa.cast("double"))
            * sqrt(n.cast("double") * sbb.cast("double")
              - sb.cast("double") * sb.cast("double"))), 6)
      s.select(col("source"), col("n_docs"),
        corr(col("n_docs"), col("sx"), col("sy"), col("sxx"), col("syy"),
          col("sxy")).as("corr_tokens_distinct"),
        corr(col("n_docs"), col("sx"), col("sz"), col("sxx"), col("szz"),
          col("sxz")).as("corr_tokens_chars"),
        corr(col("n_docs"), col("sy"), col("sz"), col("syy"), col("szz"),
          col("syz")).as("corr_distinct_chars"))
        .orderBy(col("source"))
    },
    Some("""
      WITH perdoc AS (
        SELECT source,
               CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS x,
               CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS BIGINT) AS y,
               n_chars AS z
        FROM documents),
      s AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(z * z) AS BIGINT) AS szz,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * z) AS BIGINT) AS sxz,
               CAST(sum(y * z) AS BIGINT) AS syz
        FROM perdoc GROUP BY source)
      SELECT source, n_docs,
             round((CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n_docs AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               AS corr_tokens_distinct,
             round((CAST(n_docs AS DOUBLE) * CAST(sxz AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
                   / (sqrt(CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n_docs AS DOUBLE) * CAST(szz AS DOUBLE)
                             - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 6)
               AS corr_tokens_chars,
             round((CAST(n_docs AS DOUBLE) * CAST(syz AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
                   / (sqrt(CAST(n_docs AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                      * sqrt(CAST(n_docs AS DOUBLE) * CAST(szz AS DOUBLE)
                             - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 6)
               AS corr_distinct_chars
      FROM s ORDER BY source
    """.trim))

  /** Mutual information of the (lang, source) metadata contingency —
    * near zero means language is spread evenly across sources (safe to
    * stratify by either alone); high MI means the two are confounded
    * and a mixture plan must stratify jointly. Reported as per-lang
    * contributions (which language carries the dependence). The
    * contingency is at most |langs|×|sources| cells, so after the one
    * count aggregate everything is broadcast-sized; per-cell terms
    * floor to nanos before the per-lang sum. */
  val qMetaMi: Q = Q(
    "q_meta_mi",
    (spark, dir) => {
      val cells = Tables.documents(spark, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("c"))
      val rowT = cells.groupBy(col("lang")).agg(sum(col("c")).as("r"))
      val colT = cells.groupBy(col("source")).agg(sum(col("c")).as("s"))
      val total = cells.agg(sum(col("c")).as("n_total"))
      val term = (col("c").cast("double") / col("n_total").cast("double"))
        .*(log((col("c").cast("double") * col("n_total").cast("double"))
          / (col("r").cast("double") * col("s").cast("double"))))
      cells.join(broadcast(rowT), "lang")
        .join(broadcast(colT), "source")
        .crossJoin(broadcast(total))
        .select(col("lang"), col("r"),
          floor(term * lit(1e9)).cast("long").as("mi_nanos"))
        .groupBy(col("lang"))
        .agg(max(col("r")).as("n_docs"),
          count(lit(1)).as("n_sources"),
          round(sum(col("mi_nanos")).cast("double") / 1e9, 6).as("mi_contrib_nats"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH cells AS (
        SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source),
      rowt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY lang),
      colt AS (SELECT source, CAST(sum(c) AS BIGINT) AS s FROM cells GROUP BY source),
      total AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cells),
      terms AS (
        SELECT lang, r,
               CAST(floor((CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE))
                 * ln((CAST(c AS DOUBLE) * CAST(n_total AS DOUBLE))
                      / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE)))
                 * 1e9) AS BIGINT) AS mi_nanos
        FROM cells JOIN rowt USING (lang) JOIN colt USING (source), total)
      SELECT lang, max(r) AS n_docs, count(*) AS n_sources,
             round(CAST(sum(mi_nanos) AS DOUBLE) / 1e9, 6) AS mi_contrib_nats
      FROM terms GROUP BY lang ORDER BY lang
    """.trim))

  /** Per-source lexical richness: vocabulary size, hapax legomena
    * (tokens seen exactly once in that source), type-token ratio and
    * hapax share — the synthetic-vs-natural text tell (templated text
    * has few hapaxes; natural text ~40-60% of vocab). Pure integer
    * counting over the (source, token) aggregate; the richest
    * structure is vocab-sized. */
  val qTextHapax: Q = Q(
    "q_text_hapax",
    (spark, dir) => Tables.documents(spark, dir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(col("c")).as("n_tokens"))
      .select(col("source"), col("vocab"), col("hapax"), col("n_tokens"),
        round(col("vocab").cast("double") / col("n_tokens").cast("double"), 6)
          .as("type_token_ratio"),
        round(col("hapax").cast("double") / col("vocab").cast("double"), 6)
          .as("hapax_share"))
      .orderBy(col("source")),
    Some("""
      WITH toks AS (
        SELECT source, tok FROM (
          SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
          FROM documents)
        WHERE len(tok) > 0),
      counts AS (
        SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
      agg AS (
        SELECT source, count(*) AS vocab,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
               CAST(sum(c) AS BIGINT) AS n_tokens
        FROM counts GROUP BY source)
      SELECT source, vocab, hapax, n_tokens,
             round(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
               AS type_token_ratio,
             round(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6)
               AS hapax_share
      FROM agg ORDER BY source
    """.trim))

  /** First three BPE merge rules induced from the corpus — the
    * tokenizer-vocabulary build step run as a query. Standard
    * byte-pair encoding over the WORD-FREQUENCY table (the corpus
    * reduces to vocab×count in one aggregate; every merge round then
    * works on the vocab-sized table, so rounds cost nothing at scale
    * and the iteration count is the plannable knob, exactly like the
    * Lloyd/PageRank loops). Symbols are kept DOUBLE-space separated
    * with single-space padding (` f  a  s  t `): a plain left-to-right
    * string replace of ` x  y ` → ` xy ` then (a) can never match
    * inside a multi-char symbol and (b) leaves the next adjacent pair
    * with its own boundary spaces — both engines' non-overlapping
    * replace semantics agree, no regex lookarounds needed (RE2 has
    * none). Ties break by pair string, so the merge sequence is
    * deterministic. */
  val qBpeMerges: Q = {
    val rounds = 3
    Q(
      "q_bpe_merges",
      (spark, dir) => {
        val words = Tables.documents(spark, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("f"))
        // " f  a  s  t " — single-space pad, double-space between symbols
        val r0 = words.select(
          concat(lit(" "),
            expr("trim(regexp_replace(w, '(.)', '$1  '))"), lit(" ")).as("repr"),
          col("f"))
        def pairCounts(r: org.apache.spark.sql.DataFrame) = r
          .select(col("f"), split(expr("trim(repr)"), "  ").as("tl"))
          .filter(size(col("tl")) >= 2)
          .select(col("f"), explode(expr(
            "transform(sequence(1, size(tl) - 1), i -> concat(tl[i-1], ' ', tl[i]))"))
            .as("pair"))
          .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
        val (_, tops) = (1 to rounds).foldLeft((r0,
            Seq.empty[org.apache.spark.sql.DataFrame])) { case ((r, acc), rank) =>
          val top = pairCounts(r)
            .orderBy(col("cnt").desc, col("pair")).limit(1)
            .select(lit(rank).as("merge_rank"), col("pair"),
              expr("replace(pair, ' ', '')").as("merged"), col("cnt"))
          val merged = r.crossJoin(broadcast(top.select(col("pair").as("mp"))))
            .select(expr(
              "replace(repr, ' ' || replace(mp, ' ', '  ') || ' ', ' ' || replace(mp, ' ', '') || ' ')")
              .as("repr"), col("f"))
          (merged, acc :+ top)
        }
        tops.reduce(_ unionAll _).orderBy(col("merge_rank"))
      },
      Some {
        def roundSql(i: Int): String = s"""
      p$i AS (
        SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (
          SELECT f, unnest([tl[j] || ' ' || tl[j+1]
                            FOR j IN generate_series(1, len(tl) - 1)]) AS pair
          FROM (SELECT f, string_split(trim(r${i - 1}.repr), '  ') AS tl FROM r${i - 1})
          WHERE len(tl) >= 2)
        GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
      r$i AS (
        SELECT replace(repr,
                 ' ' || replace((SELECT pair FROM p$i), ' ', '  ') || ' ',
                 ' ' || replace((SELECT pair FROM p$i), ' ', '') || ' ') AS repr, f
        FROM r${i - 1})"""
        s"""
      WITH words AS (
        SELECT w, count(*) AS f FROM (
          SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY w),
      r0 AS (
        SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS repr, f
        FROM words),
      ${(1 to rounds).map(roundSql).mkString(",")}
      SELECT merge_rank, pair, replace(pair, ' ', '') AS merged, cnt FROM (
        ${(1 to rounds).map(i =>
          s"SELECT $i AS merge_rank, pair, cnt FROM p$i").mkString(" UNION ALL ")})
      ORDER BY merge_rank
    """.trim
      })
  }

  /** Shared oracle WITH-chain replaying the
    * [[graft.operators.BpeVocabArtifact]] build: word-frequency
    * reduction, padded symbol representation, then `rounds` unrolled
    * merge rounds — ends at `r<rounds>(w, repr, f)` with each round's
    * winning pair in `p<i>`. Multiply-referenced CTEs MATERIALIZED
    * (DuckDB otherwise re-inlines the round chain exponentially). */
  private def bpeVocabCtes(rounds: Int): String = {
    def roundSql(i: Int): String = s"""
      p$i AS MATERIALIZED (
        SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (
          SELECT f, unnest([tl[j] || ' ' || tl[j+1]
                            FOR j IN generate_series(1, len(tl) - 1)]) AS pair
          FROM (SELECT f, string_split(trim(r${i - 1}.repr), '  ') AS tl
                FROM r${i - 1})
          WHERE len(tl) >= 2)
        GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
      r$i AS MATERIALIZED (
        SELECT w, replace(repr,
                 ' ' || replace((SELECT pair FROM p$i), ' ', '  ') || ' ',
                 ' ' || replace((SELECT pair FROM p$i), ' ', '') || ' ') AS repr,
               f
        FROM r${i - 1})"""
    s"""words AS (
        SELECT w, count(*) AS f FROM (
          SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY w),
      r0 AS MATERIALIZED (
        SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '
                 AS repr, f
        FROM words),
      ${(1 to rounds).map(roundSql).mkString(",")}"""
  }

  /** The tokenizer-vocabulary BUILD step run as the registered
    * artifact query: [[graft.operators.BpeVocabArtifact]] induces
    * 8 BPE merge rules from the corpus word-frequency table (the
    * N-round generalization of `q_bpe_merges`' 3-round demo) and
    * stores every word's decomposition under the learned rules for
    * `q_fertility_learned` to consume. Output is the merge table.
    * Each round is vocab-sized — corpus size enters once, in the
    * word-count reduction. */
  val qBpeVocab: Q = Q(
    "q_bpe_vocab",
    (spark, dir) => {
      graft.operators.BpeVocabArtifact.materialize(spark, dir)
      graft.operators.BpeVocabArtifact.merges(spark, dir)
        .select(col("merge_rank"), col("pair"), col("merged"), col("cnt"))
        .orderBy(col("merge_rank"))
    },
    Some(s"""
      WITH ${bpeVocabCtes(graft.operators.BpeVocabArtifact.Rounds)}
      SELECT merge_rank, pair, replace(pair, ' ', '') AS merged, cnt FROM (
        ${(1 to graft.operators.BpeVocabArtifact.Rounds).map(i =>
          s"SELECT $i AS merge_rank, pair, cnt FROM p$i")
          .mkString(" UNION ALL ")})
      ORDER BY merge_rank
    """.trim))

  /** Tokenizer fertility under the LEARNED vocabulary — the actual
    * which-languages-does-MY-tokenizer-tax table (`q_tokenizer_
    * fertility` measures a fixed regex heuristic; this measures the
    * tokenizer `q_bpe_vocab` just built): per language, whitespace
    * words, subword tokens under the learned merges, and the exact
    * integer fertility/compression ratios. One (lang, word) aggregate
    * joined to the vocab-sized artifact — the corpus is never
    * re-tokenized per language. */
  val qFertilityLearned: Q = Q(
    "q_fertility_learned",
    (spark, dir) => {
      val reprs = graft.operators.BpeVocabArtifact.reprs(spark, dir)
        .select(col("w"), col("n_symbols"))
      Tables.documents(spark, dir)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("fl"))
        .join(reprs, "w")
        .groupBy(col("lang"))
        .agg(sum(col("fl")).as("n_words"),
          sum(col("fl") * col("n_symbols")).as("subword_tokens"),
          sum(col("fl") * length(col("w")).cast("long")).as("n_chars"))
        .select(col("lang"), col("n_words"), col("subword_tokens"),
          col("n_chars"),
          expr("subword_tokens * 1000000 div n_words").as("fertility_micros"),
          expr("n_chars * 1000000 div subword_tokens")
            .as("chars_per_subword_micros"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH ${bpeVocabCtes(graft.operators.BpeVocabArtifact.Rounds)},
      nsym AS (
        SELECT w, CAST(len(string_split(trim(repr), '  ')) AS BIGINT)
                 AS n_symbols
        FROM r${graft.operators.BpeVocabArtifact.Rounds}),
      wl AS (
        SELECT lang, w, count(*) AS fl FROM (
          SELECT lang, unnest(string_split_regex(text, '\\s+')) AS w
          FROM documents)
        WHERE len(w) > 0 GROUP BY lang, w)
      SELECT lang, CAST(sum(fl) AS BIGINT) AS n_words,
             CAST(sum(fl * n_symbols) AS BIGINT) AS subword_tokens,
             CAST(sum(fl * len(w)) AS BIGINT) AS n_chars,
             CAST(sum(fl * n_symbols) * 1000000 // sum(fl) AS BIGINT)
               AS fertility_micros,
             CAST(sum(fl * len(w)) * 1000000 // sum(fl * n_symbols) AS BIGINT)
               AS chars_per_subword_micros
      FROM wl JOIN nsym USING (w)
      GROUP BY lang ORDER BY lang
    """.trim))

  /** Shared oracle WITH-chain replaying the
    * [[graft.operators.UnigramVocabArtifact]] build: word-frequency
    * reduction, candidate substring scores, then TWO Viterbi passes
    * (forward DP unrolled to `MaxLen` rounds, backtrack unrolled the
    * same way) with the hard-EM score re-estimation between them —
    * ends at `usage2(piece, c)` (the learned vocabulary) and
    * `segs2(w, f, piece, step)` (the learned decompositions).
    * Multiply-referenced CTEs MATERIALIZED (DuckDB otherwise
    * re-inlines the round chain exponentially). */
  private def unigramCtes(px: String = ""): String = {
    import graft.operators.UnigramVocabArtifact.{B, MaxLen, PieceMax}
    def fwd(p: Int, j: Int): String = s"""
      s${px}${p}_$j AS MATERIALIZED (
        SELECT w, f, $j AS pos, cost, bl FROM (
          SELECT d.w, d.f, d.cost + $B - v.c AS cost, $j - d.pos AS bl,
                 row_number() OVER (PARTITION BY d.w
                   ORDER BY d.cost + $B - v.c, $j - d.pos) AS rn
          FROM d${px}${p}_${j - 1} d
          JOIN ${px}vc$p v ON v.piece = substr(d.w, d.pos + 1, $j - d.pos)
          WHERE len(d.w) >= $j AND d.pos >= ${j - PieceMax})
        WHERE rn = 1),
      d${px}${p}_$j AS MATERIALIZED (
        SELECT w, f, pos, cost FROM d${px}${p}_${j - 1}
        UNION ALL SELECT w, f, pos, cost FROM s${px}${p}_$j)"""
    def bwd(p: Int, t: Int): String = s"""
      b${px}${p}_$t AS MATERIALIZED (
        SELECT b.w, b.f, substr(b.w, b.pos - k.bl + 1, k.bl) AS piece,
               $t AS step, b.pos - k.bl AS pos
        FROM b${px}${p}_${t - 1} b
        JOIN ${px}back$p k ON k.w = b.w AND k.pos = b.pos
        WHERE b.pos > 0)"""
    def pass(p: Int): String = s"""
      d${px}${p}_0 AS (SELECT w, f, 0 AS pos, CAST(0 AS BIGINT) AS cost FROM ${px}words),
      ${(1 to MaxLen).map(fwd(p, _)).mkString(",")},
      ${px}back$p AS (${(1 to MaxLen)
        .map(j => s"SELECT w, pos, bl FROM s${px}${p}_$j")
        .mkString(" UNION ALL ")}),
      b${px}${p}_0 AS (SELECT w, f, len(w) AS pos FROM ${px}words),
      ${(1 to MaxLen).map(bwd(p, _)).mkString(",")},
      ${px}segs$p AS (${(1 to MaxLen)
        .map(t => s"SELECT w, f, piece, step FROM b${px}${p}_$t")
        .mkString(" UNION ALL ")}),
      ${px}usage$p AS MATERIALIZED (
        SELECT piece, CAST(sum(f) AS BIGINT) AS c FROM ${px}segs$p GROUP BY piece)"""
    s"""${px}words AS MATERIALIZED (
        SELECT w, count(*) AS f FROM (
          SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
        WHERE len(w) > 0 AND len(w) <= $MaxLen GROUP BY w),
      ${px}vc1 AS MATERIALIZED (
        SELECT piece, CAST(sum(f) AS BIGINT) AS c FROM (
          SELECT f, substr(w, i, L) AS piece
          FROM ${px}words, generate_series(1, $PieceMax) t(L),
               generate_series(1, $MaxLen) s(i)
          WHERE i + L - 1 <= len(w))
        GROUP BY piece),
      ${pass(1)},
      ${px}chars AS (
        SELECT DISTINCT substr(w, i, 1) AS piece
        FROM ${px}words, generate_series(1, $MaxLen) s(i) WHERE i <= len(w)),
      ${px}vc2 AS MATERIALIZED (
        SELECT piece, CAST(coalesce(u.c, 0) AS BIGINT) AS c
        FROM ${px}chars LEFT JOIN ${px}usage1 u USING (piece)
        UNION ALL SELECT piece, c FROM ${px}usage1 WHERE len(piece) > 1),
      ${pass(2)}"""
  }

  /** The unigram-LM tokenizer BUILD step run as the registered
    * artifact query: [[graft.operators.UnigramVocabArtifact]] learns
    * the SentencePiece-unigram-family vocabulary — candidate
    * substring scores, exact-integer Viterbi segmentation of the
    * word-frequency table, one hard-EM re-estimation round, then a
    * re-segmentation under the re-estimated scores. Output is the
    * learned vocabulary with usage counts; `q_fertility_unigram`
    * consumes the stored decompositions. Corpus size enters once (the
    * word reduction); every DP round is distinct-word-table-sized. */
  val qUnigramVocab: Q = Q(
    "q_unigram_vocab",
    (spark, dir) => {
      graft.operators.UnigramVocabArtifact.materialize(spark, dir)
      graft.operators.UnigramVocabArtifact.vocab(spark, dir)
        .orderBy(col("c").desc, col("piece"))
    },
    Some(s"""
      WITH ${unigramCtes()}
      SELECT piece, CAST(len(piece) AS BIGINT) AS piece_len, c
      FROM usage2 ORDER BY c DESC, piece
    """.trim))

  /** Tokenizer fertility under the LEARNED unigram vocabulary — the
    * unigram twin of [[qFertilityLearned]], so the two standard
    * subword families can be compared per language on identical
    * metrics. Words outside the DP domain (longer than `MaxLen`;
    * none in this corpus) take the documented one-char-per-piece
    * fallback via the LEFT join. One (lang, word) aggregate joined to
    * the vocab-sized artifact — the corpus is never re-segmented per
    * language. */
  val qFertilityUnigram: Q = Q(
    "q_fertility_unigram",
    (spark, dir) => {
      val reprs = graft.operators.UnigramVocabArtifact.reprs(spark, dir)
        .select(col("w"), col("n_pieces"))
      Tables.documents(spark, dir)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("fl"))
        .join(reprs, Seq("w"), "left")
        .select(col("lang"), col("fl"), col("w"),
          coalesce(col("n_pieces"), length(col("w")).cast("long"))
            .as("np"))
        .groupBy(col("lang"))
        .agg(sum(col("fl")).as("n_words"),
          sum(col("fl") * col("np")).as("subword_tokens"),
          sum(col("fl") * length(col("w")).cast("long")).as("n_chars"))
        .select(col("lang"), col("n_words"), col("subword_tokens"),
          col("n_chars"),
          expr("subword_tokens * 1000000 div n_words").as("fertility_micros"),
          expr("n_chars * 1000000 div subword_tokens")
            .as("chars_per_subword_micros"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH ${unigramCtes()},
      nsym AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_pieces
        FROM segs2 GROUP BY w),
      wl AS (
        SELECT lang, w, count(*) AS fl FROM (
          SELECT lang, unnest(string_split_regex(text, '\\s+')) AS w
          FROM documents)
        WHERE len(w) > 0 GROUP BY lang, w)
      SELECT lang, CAST(sum(fl) AS BIGINT) AS n_words,
             CAST(sum(fl * coalesce(n_pieces, len(w))) AS BIGINT)
               AS subword_tokens,
             CAST(sum(fl * len(w)) AS BIGINT) AS n_chars,
             CAST(sum(fl * coalesce(n_pieces, len(w))) * 1000000 // sum(fl)
               AS BIGINT) AS fertility_micros,
             CAST(sum(fl * len(w)) * 1000000
               // sum(fl * coalesce(n_pieces, len(w))) AS BIGINT)
               AS chars_per_subword_micros
      FROM wl LEFT JOIN nsym USING (w)
      GROUP BY lang ORDER BY lang
    """.trim))

  /** BPE vs unigram head-to-head on identical per-language metrics —
    * the table a tokenizer decision actually reads: both learned
    * artifacts joined to ONE (lang, word) aggregate, exact integer
    * fertility for each family, the delta, and the per-language
    * winner. The oracle replays BOTH builds in one statement (the BPE
    * merge chain plus the `u_`-prefixed unigram DP chain), so the two
    * tokenizer pipelines compose under a single parity hash. */
  val qTokenizerDuel: Q = Q(
    "q_tokenizer_duel",
    (spark, dir) => {
      val bpe = graft.operators.BpeVocabArtifact.reprs(spark, dir)
        .select(col("w"), col("n_symbols"))
      val uni = graft.operators.UnigramVocabArtifact.reprs(spark, dir)
        .select(col("w"), col("n_pieces"))
      Tables.documents(spark, dir)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("fl"))
        .join(bpe, Seq("w"), "left").join(uni, Seq("w"), "left")
        .select(col("lang"), col("fl"),
          coalesce(col("n_symbols"), length(col("w")).cast("long")).as("nb"),
          coalesce(col("n_pieces"), length(col("w")).cast("long")).as("nu"))
        .groupBy(col("lang"))
        .agg(sum(col("fl")).as("n_words"),
          sum(col("fl") * col("nb")).as("bpe_tokens"),
          sum(col("fl") * col("nu")).as("uni_tokens"))
        .select(col("lang"), col("n_words"), col("bpe_tokens"),
          col("uni_tokens"),
          expr("bpe_tokens * 1000000 div n_words").as("bpe_fertility_micros"),
          expr("uni_tokens * 1000000 div n_words").as("uni_fertility_micros"),
          expr("""bpe_tokens * 1000000 div n_words
                  - uni_tokens * 1000000 div n_words""").as("delta_micros"),
          when(col("bpe_tokens") < col("uni_tokens"), lit("bpe"))
            .when(col("uni_tokens") < col("bpe_tokens"), lit("unigram"))
            .otherwise(lit("tie")).as("winner"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH ${bpeVocabCtes(graft.operators.BpeVocabArtifact.Rounds)},
      ${unigramCtes("u_")},
      bsym AS (
        SELECT w, CAST(len(string_split(trim(repr), '  ')) AS BIGINT)
                 AS n_symbols
        FROM r${graft.operators.BpeVocabArtifact.Rounds}),
      usym AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_pieces
        FROM u_segs2 GROUP BY w),
      wl AS (
        SELECT lang, w, count(*) AS fl FROM (
          SELECT lang, unnest(string_split_regex(text, '\\s+')) AS w
          FROM documents)
        WHERE len(w) > 0 GROUP BY lang, w),
      jd AS (
        SELECT lang, fl,
               coalesce(b.n_symbols, len(w)) AS nb,
               coalesce(u.n_pieces, len(w)) AS nu
        FROM wl LEFT JOIN bsym b USING (w) LEFT JOIN usym u USING (w)),
      ag AS (
        SELECT lang, CAST(sum(fl) AS BIGINT) AS n_words,
               CAST(sum(fl * nb) AS BIGINT) AS bpe_tokens,
               CAST(sum(fl * nu) AS BIGINT) AS uni_tokens
        FROM jd GROUP BY lang)
      SELECT lang, n_words, bpe_tokens, uni_tokens,
             bpe_tokens * 1000000 // n_words AS bpe_fertility_micros,
             uni_tokens * 1000000 // n_words AS uni_fertility_micros,
             bpe_tokens * 1000000 // n_words
               - uni_tokens * 1000000 // n_words AS delta_micros,
             CASE WHEN bpe_tokens < uni_tokens THEN 'bpe'
                  WHEN uni_tokens < bpe_tokens THEN 'unigram'
                  ELSE 'tie' END AS winner
      FROM ag ORDER BY lang
    """.trim))

  /** Unseen-species estimation per source, one step past
    * [[qTextHapax]]'s observed shares: how much vocabulary the sample
    * has NOT seen yet. Chao1 (bias-corrected: V + F1(F1−1)/(2(F2+1)),
    * total everywhere — no F2=0 divide) lower-bounds the true type
    * count from the singleton/doubleton profile, and Good-Turing
    * coverage (1 − F1/N) says what probability mass the observed
    * vocabulary captures — the "is this source exhausted or barely
    * scratched" dial a corpus-collection loop reads before paying for
    * more crawl. One (source, token) aggregate, then a 20-row
    * profile; the estimators are integer-floored milli/ppm so both
    * engines land identical rows. */
  val qChaoRichness: Q = Q(
    "q_chao_richness",
    (spark, dir) => Tables.documents(spark, dir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("vocab"), col("n_tokens"), col("f1"),
        col("f2"),
        (col("vocab") * 1000
          + expr("f1 * (f1 - 1) * 1000 div (2 * (f2 + 1))"))
          .as("chao1_milli"),
        expr("1000000 - f1 * 1000000 div n_tokens").as("gt_coverage_ppm"))
      .orderBy(col("source")),
    Some("""
      WITH toks AS (
        SELECT source, tok FROM (
          SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
          FROM documents)
        WHERE len(tok) > 0),
      counts AS (
        SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
      prof AS (
        SELECT source, count(*) AS vocab,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        FROM counts GROUP BY source)
      SELECT source, vocab, n_tokens, f1, f2,
             vocab * 1000 + f1 * (f1 - 1) * 1000 // (2 * (f2 + 1))
               AS chao1_milli,
             1000000 - f1 * 1000000 // n_tokens AS gt_coverage_ppm
      FROM prof ORDER BY source
    """.trim))

  /** Heaps'-law fit V = K·N^β across sources — the vocabulary-growth
    * exponent that sizes a tokenizer vocabulary BEFORE paying for the
    * next 10× of corpus: β near 0.5 says vocabulary still doubles
    * with every 4× of tokens, β near 0 says the domain is closed.
    * The corpus collapses to 20 (n_tokens, vocab) points (one
    * (source, token) aggregate — the same profile `q_chao_richness`
    * reads); the log-log OLS runs on floor(ln·10⁹) integer
    * coordinates with 128-bit moment sums, so the fit inputs are
    * exact and the two doubles (slope, intercept) come off identical
    * expression trees. */
  val qTextHeaps: Q = Q(
    "q_text_heaps",
    (spark, dir) => Tables.documents(spark, dir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"))
      .select(
        floor(log(col("n_tokens").cast("double")) * lit(1e9)).cast("long")
          .as("x"),
        floor(log(col("vocab").cast("double")) * lit(1e9)).cast("long")
          .as("y"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(19,0)") * col("x")).as("sxx"),
        sum(col("x").cast("decimal(19,0)") * col("y")).as("sxy"))
      .select(col("n_sources"),
        round((col("n_sources") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy"))
          / (col("n_sources") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx")), 6).as("beta"),
        floor(exp((col("sy").cast("double")
            - ((col("n_sources") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy"))
              / (col("n_sources") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx")))
              * col("sx").cast("double"))
          / col("n_sources") / lit(1e9)) * lit(1000)).cast("long")
          .as("k_milli")),
    Some("""
      WITH toks AS (
        SELECT source, tok FROM (
          SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
          FROM documents)
        WHERE len(tok) > 0),
      counts AS (
        SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
      prof AS (
        SELECT source, count(*) AS vocab,
               CAST(sum(c) AS BIGINT) AS n_tokens
        FROM counts GROUP BY source),
      pts AS (
        SELECT CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e9) AS BIGINT) AS x,
               CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1e9) AS BIGINT) AS y
        FROM prof),
      mom AS (
        SELECT count(*) AS n_sources,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(x AS HUGEINT) * y) AS sxy
        FROM pts)
      SELECT n_sources,
             round((n_sources * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * sy)
               / (n_sources * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * sx), 6) AS beta,
             CAST(floor(exp((CAST(sy AS DOUBLE)
                 - ((n_sources * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * sy)
                   / (n_sources * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * sx))
                   * CAST(sx AS DOUBLE))
               / n_sources / 1e9) * 1000) AS BIGINT) AS k_milli
      FROM mom
    """.trim))

  /** Church-Gale burstiness of the corpus head: the variance-to-mean
    * ratio (Fano factor) of each top-20 term's per-doc count. A
    * Poisson-scattered term reads 1.0 (function words, templated
    * boilerplate); content words clump — VMR well above 1 — which is
    * why burstiness separates topical vocabulary from glue even when
    * raw frequency cannot. VMR is an EXACT rational of the
    * occurrence moments with zeros handled implicitly (docs lacking
    * the term contribute only to N): (N·Σx² − (Σx)²)·1000 div
    * (N·Σx) — one (doc, term) aggregate, a vocabulary-sized moment
    * table, a distributed top-k cut. */
  val qTextBurstiness: Q = Q(
    "q_text_burstiness",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val nDocs = docs.agg(count(lit(1)).as("nd"))
      docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text")))
          .as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("x"))
        .groupBy(col("tok"))
        .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
          count(lit(1)).as("df"))
        .orderBy(col("sx").desc, col("tok"))
        .limit(20)
        .crossJoin(broadcast(nDocs))
        .select(col("tok"), col("sx").as("n_occ"), col("df"),
          expr("(nd * sxx - sx * sx) * 1000 div (nd * sx)").as("vmr_milli"))
        .orderBy(col("n_occ").desc, col("tok"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, tok FROM (
          SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
          FROM documents)
        WHERE len(tok) > 0),
      percell AS (
        SELECT doc_id, tok, count(*) AS x FROM toks GROUP BY doc_id, tok),
      mom AS (
        SELECT tok, CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               count(*) AS df
        FROM percell GROUP BY tok
        ORDER BY sx DESC, tok LIMIT 20),
      nd AS (SELECT count(*) AS nd FROM documents)
      SELECT tok, sx AS n_occ, df,
             (nd * sxx - sx * sx) * 1000 // (nd * sx) AS vmr_milli
      FROM mom, nd
      ORDER BY n_occ DESC, tok
    """.trim))

  /** Bradley-Terry preference strengths — the RLHF-pipeline step that
    * turns pairwise duel outcomes into item strengths
    * ([[graft.operators.BradleyTerry]]: Hunter's MM iteration, every
    * update an exact BIGINT floor-division in ppm, so a fixed 2-round
    * fit is bit-identical across engines with no logit in sight).
    * Duels derive deterministically from the event stream: each
    * user's consecutive event pairs (by event_id) with differing
    * types compete, the higher `value` wins (ties to the
    * lexicographically smaller type). Reports per-type wins, games,
    * and fitted strength — the leaderboard a preference-data audit
    * reads before trusting its label source.
    *
    * Scale: one corpus pass (the per-user lead window — partitioned,
    * never global) reduces duels to a types×types win matrix; both MM
    * rounds are broadcast joins + hash aggregates over that tiny
    * matrix, so iteration cost is independent of corpus size. */
  /** The duel derivation and the 2-round Bradley-Terry fit shared by
    * the preference family now live in the materialized
    * [[graft.operators.PrefDuelArtifact]] (round 13): four queries
    * re-derived the identical corpus-sized lead window, and the MM
    * fit's inline lineage re-planned a 7000-line tree per
    * materialization. The oracle still replays the full derivation
    * from `events` ([[btCte]]), so parity pins artifact = inline. */

  /** Shared oracle CTE chain: duels → win matrix → two exact-integer
    * MM rounds (see [[graft.operators.BradleyTerry]]). */
  private val btCte: String = """
      WITH seq AS (
        SELECT user_id, event_type, value,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY event_id) AS nt,
               lead(value) OVER (PARTITION BY user_id
                 ORDER BY event_id) AS nv
        FROM events),
      duels AS (
        SELECT CASE WHEN value > nv OR (value = nv AND event_type < nt)
                 THEN event_type ELSE nt END AS winner,
               CASE WHEN value > nv OR (value = nv AND event_type < nt)
                 THEN nt ELSE event_type END AS loser
        FROM seq WHERE nt IS NOT NULL AND nt <> event_type),
      wins AS (
        SELECT winner, loser, CAST(count(*) AS BIGINT) AS n
        FROM duels GROUP BY 1, 2),
      games AS (
        SELECT i, j, CAST(sum(n) AS BIGINT) AS n FROM (
          SELECT winner AS i, loser AS j, n FROM wins
          UNION ALL SELECT loser AS i, winner AS j, n FROM wins)
        GROUP BY 1, 2),
      wtot AS (SELECT winner AS i, CAST(sum(n) AS BIGINT) AS w
               FROM wins GROUP BY 1),
      it0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS s FROM games),
      it1 AS (
        SELECT g.i,
               CAST(coalesce(any_value(w.w), 0) * 1000000000000
                 // sum(g.n * 1000000000000 // greatest(a.s + b.s, 1))
                 AS BIGINT) AS s
        FROM games g
        JOIN it0 a ON a.i = g.i JOIN it0 b ON b.i = g.j
        LEFT JOIN wtot w ON w.i = g.i
        GROUP BY g.i),
      it2 AS (
        SELECT g.i,
               CAST(coalesce(any_value(w.w), 0) * 1000000000000
                 // sum(g.n * 1000000000000 // greatest(a.s + b.s, 1))
                 AS BIGINT) AS s
        FROM games g
        JOIN it1 a ON a.i = g.i JOIN it1 b ON b.i = g.j
        LEFT JOIN wtot w ON w.i = g.i
        GROUP BY g.i),
      ng AS (SELECT i, CAST(sum(n) AS BIGINT) AS n_games
             FROM games GROUP BY 1)"""

  val qPrefBradleyTerry: Q = Q(
    "q_pref_bradley_terry",
    (spark, dir) =>
      graft.operators.PrefDuelArtifact.fit(spark, dir)
        .select(col("item").as("event_type"), col("n_wins"),
          col("n_games"), col("strength_ppm"))
        .orderBy(col("event_type")),
    Some(s"""$btCte
      SELECT it2.i AS event_type,
             CAST(coalesce(wtot.w, 0) AS BIGINT) AS n_wins,
             ng.n_games, it2.s AS strength_ppm
      FROM it2 JOIN ng ON ng.i = it2.i
      LEFT JOIN wtot ON wtot.i = it2.i
      ORDER BY event_type
    """.trim))

  /** Bradley-Terry CALIBRATION — the fit-quality audit: for every
    * ordered pair, the model's predicted win probability
    * (`s_i·10⁶ div (s_i + s_j)`, exact ppm off the fitted strengths)
    * against the observed win rate (`wins·10⁶ div games`). A
    * preference pipeline reads this table to see WHERE the
    * single-strength model fails (intransitive triples, context
    * effects) before trusting it to label new pairs. Everything exact
    * integer, so the comparison is engine-portable by construction.
    *
    * Scale: strengths come from the same broadcastable win matrix;
    * this adds one join of two tiny tables — no additional corpus
    * pass at all beyond the shared duel reduction. */
  val qPrefCalibration: Q = Q(
    "q_pref_calibration",
    (spark, dir) => {
      // artifact reads: the duel matrix and the fit are tiny parquet
      // scans — each consumer branch re-scans them instead of caching
      val wins = graft.operators.PrefDuelArtifact.wins(spark, dir)
      val s = graft.operators.PrefDuelArtifact.fit(spark, dir)
        .select(col("item"), col("strength_ppm"))
      val games = wins
        .select(col("winner").as("i"), col("loser").as("j"), col("n"))
        .unionAll(wins.select(col("loser").as("i"),
          col("winner").as("j"), col("n")))
        .groupBy(col("i"), col("j")).agg(sum(col("n")).as("n_games"))
      games
        .join(wins.select(col("winner").as("i"), col("loser").as("j"),
          col("n").as("n_wins")), Seq("i", "j"), "left")
        .join(broadcast(s.select(col("item").as("i"),
          col("strength_ppm").as("si"))), "i")
        .join(broadcast(s.select(col("item").as("j"),
          col("strength_ppm").as("sj"))), "j")
        .select(col("i").as("event_type"), col("j").as("opponent"),
          col("n_games"),
          coalesce(col("n_wins"), lit(0L)).as("n_wins"),
          expr("si * 1000000 div greatest(si + sj, 1)")
            .as("predicted_ppm"),
          expr("coalesce(n_wins, 0) * 1000000 div n_games")
            .as("observed_ppm"))
        .orderBy(col("event_type"), col("opponent"))
    },
    Some(s"""$btCte,
      obs AS (
        SELECT g.i, g.j, g.n AS n_games,
               CAST(coalesce(w.n, 0) AS BIGINT) AS n_wins
        FROM games g
        LEFT JOIN wins w ON w.winner = g.i AND w.loser = g.j)
      SELECT o.i AS event_type, o.j AS opponent, o.n_games, o.n_wins,
             CAST(a.s * 1000000 // greatest(a.s + b.s, 1) AS BIGINT)
               AS predicted_ppm,
             CAST(o.n_wins * 1000000 // o.n_games AS BIGINT)
               AS observed_ppm
      FROM obs o
      JOIN it2 a ON a.i = o.i JOIN it2 b ON b.i = o.j
      ORDER BY event_type, opponent
    """.trim))

  /** Preference INTRANSITIVITY — the structural check that decides
    * whether a single-strength model (Bradley-Terry) can represent
    * the duel data at all: majority-direction edges per unordered
    * pair, then the count of cyclic triples (a beats b beats c beats
    * a in the majority). A cycle-heavy preference corpus needs
    * context features, not a better scalar fit — this is the audit
    * that says so before the model is trusted. Ties (equal wins both
    * ways) are reported and excluded from cycle counting.
    *
    * Scale: everything after the shared duel reduction operates on
    * the pair matrix (items² rows for a small item vocabulary) — the
    * triple enumeration is over items³ of a BROADCAST-sized table,
    * never over duels. */
  val qPrefIntransitivity: Q = Q(
    "q_pref_intransitivity",
    (spark, dir) => graft.operators.BradleyTerry
      .intransitivity(graft.operators.PrefDuelArtifact.wins(spark, dir)),
    Some(s"""$btCte,
      pr AS (
        SELECT i, j,
               CAST(sum(CASE WHEN dir = 1 THEN n ELSE 0 END) AS BIGINT)
                 AS n_ij,
               CAST(sum(CASE WHEN dir = 0 THEN n ELSE 0 END) AS BIGINT)
                 AS n_ji
        FROM (
          SELECT winner AS i, loser AS j, n, 1 AS dir FROM wins
            WHERE winner < loser
          UNION ALL
          SELECT loser AS i, winner AS j, n, 0 AS dir FROM wins
            WHERE loser < winner)
        GROUP BY i, j),
      edges AS (
        SELECT CASE WHEN n_ij > n_ji THEN i ELSE j END AS src,
               CASE WHEN n_ij > n_ji THEN j ELSE i END AS dst
        FROM pr WHERE n_ij <> n_ji),
      cyc AS (
        SELECT 1 FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src
        JOIN edges e3 ON e2.dst = e3.src AND e3.dst = e1.src
        WHERE e1.src < e2.src AND e1.src < e3.src)
      SELECT (SELECT count(*) FROM pr) AS n_pairs,
             (SELECT CAST(coalesce(sum(CASE WHEN n_ij = n_ji THEN 1
                ELSE 0 END), 0) AS BIGINT) FROM pr) AS n_ties,
             (SELECT count(*) FROM cyc) AS n_cyclic_triples
    """.trim))

  /** Annotator-cohort ratings shared by the agreement queries: the
    * duels of [[graft.operators.PrefDuelArtifact.duels]], with
    * annotator = `user_id % 3` (three rating cohorts) and the item =
    * the unordered type pair. Each
    * cohort's rating for an item is its MAJORITY duel direction
    * (0 = the lower type wins; ties to 0, the lexicographically
    * smaller winner — same convention as the duel derivation). One
    * corpus pass; the ratings table is cohorts × type-pairs. */
  private def annotatorRatings(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val duels = graft.operators.PrefDuelArtifact.duels(Tables.events(spark, dir))
      .select(pmod(col("user_id"), lit(3)).cast("int").as("annot"),
        col("winner"), col("loser"))
    val oriented = duels.select(col("annot"),
        when(col("winner") < col("loser"), col("winner"))
          .otherwise(col("loser")).as("i"),
        when(col("winner") < col("loser"), col("loser"))
          .otherwise(col("winner")).as("j"),
        when(col("winner") < col("loser"), 1L).otherwise(0L).as("iw"))
      .groupBy(col("annot"), col("i"), col("j"))
      .agg(sum(col("iw")).as("n_ij"),
        sum(lit(1L) - col("iw")).as("n_ji"))
    oriented.select(col("annot"),
      concat_ws("|", col("i"), col("j")).as("item"),
      when(col("n_ij") >= col("n_ji"), 0).otherwise(1).as("rating"))
  }

  /** Shared oracle CTE chain for the agreement queries: duels with the
    * annotator cohort, majority-direction ratings per (cohort, pair). */
  private val ratingsCte: String = """
      WITH seq AS (
        SELECT user_id, event_type, value,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY event_id) AS nt,
               lead(value) OVER (PARTITION BY user_id
                 ORDER BY event_id) AS nv
        FROM events),
      duels AS (
        SELECT user_id % 3 AS annot,
               CASE WHEN value > nv OR (value = nv AND event_type < nt)
                 THEN event_type ELSE nt END AS winner,
               CASE WHEN value > nv OR (value = nv AND event_type < nt)
                 THEN nt ELSE event_type END AS loser
        FROM seq WHERE nt IS NOT NULL AND nt <> event_type),
      pr AS (
        SELECT annot,
               CASE WHEN winner < loser THEN winner ELSE loser END AS i,
               CASE WHEN winner < loser THEN loser ELSE winner END AS j,
               CAST(sum(CASE WHEN winner < loser THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_ij,
               CAST(sum(CASE WHEN winner < loser THEN 0 ELSE 1 END)
                 AS BIGINT) AS n_ji
        FROM duels GROUP BY 1, 2, 3),
      rt AS (
        SELECT CAST(annot AS INT) AS annot, concat(i, '|', j) AS item,
               CASE WHEN n_ij >= n_ji THEN 0 ELSE 1 END AS rating
        FROM pr)"""

  /** Cohen's kappa per annotator-cohort pair — the rater-consistency
    * audit ([[graft.operators.Agreement.cohenKappaPairs]]): exact ppm
    * observed / chance / chance-corrected agreement over the items
    * both cohorts rated. The oracle replays the marginal-agreement
    * arithmetic including the truncate-toward-zero signed division. */
  val qPrefKappa: Q = Q(
    "q_pref_kappa",
    (spark, dir) => graft.operators.Agreement
      .cohenKappaPairs(annotatorRatings(spark, dir)),
    Some(s"""$ratingsCte,
      pairs AS (
        SELECT a.annot AS annot_a, b.annot AS annot_b,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CASE WHEN a.rating = b.rating THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_agree,
               CAST(sum(CASE WHEN a.rating = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS m0a,
               CAST(sum(CASE WHEN b.rating = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS m0b,
               CAST(sum(CASE WHEN a.rating = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS m1a,
               CAST(sum(CASE WHEN b.rating = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS m1b
        FROM rt a JOIN rt b ON a.item = b.item AND a.annot < b.annot
        GROUP BY 1, 2),
      pp AS (
        SELECT annot_a, annot_b, n_items, n_agree,
               CAST(n_agree * 1000000 // n_items AS BIGINT) AS po_ppm,
               CAST((m0a * m0b + m1a * m1b) * 1000000
                 // (n_items * n_items) AS BIGINT) AS pe_ppm
        FROM pairs)
      SELECT annot_a, annot_b, n_items, n_agree, po_ppm, pe_ppm,
             CAST(CASE WHEN po_ppm >= pe_ppm
               THEN (po_ppm - pe_ppm) * 1000000
                 // greatest(1000000 - pe_ppm, 1)
               ELSE -((pe_ppm - po_ppm) * 1000000
                 // greatest(1000000 - pe_ppm, 1))
             END AS BIGINT) AS kappa_ppm
      FROM pp ORDER BY annot_a, annot_b
    """.trim))

  /** Fleiss' kappa across the 3-cohort panel
    * ([[graft.operators.Agreement.fleissKappa]]): chance-corrected
    * panel agreement over the type pairs every cohort rated — exact
    * integer ppm throughout, replayed by the oracle. */
  val qPrefFleiss: Q = Q(
    "q_pref_fleiss",
    (spark, dir) => graft.operators.Agreement
      .fleissKappa(annotatorRatings(spark, dir), nRaters = 3),
    Some(s"""$ratingsCte,
      per_item AS (
        SELECT item,
               CAST(count(*) AS BIGINT) AS nr,
               CAST(sum(CASE WHEN rating = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n0,
               CAST(sum(CASE WHEN rating = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n1
        FROM rt GROUP BY item),
      full_panel AS (SELECT * FROM per_item WHERE nr = 3),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(n0 * n0 + n1 * n1 - 3) AS BIGINT) AS pnum,
               CAST(sum(n0) AS BIGINT) AS s0,
               CAST(sum(n1) AS BIGINT) AS s1
        FROM full_panel),
      pp AS (
        SELECT n_items,
               CAST(pnum * 1000000 // (n_items * 6) AS BIGINT) AS pbar_ppm,
               CAST((s0 * s0 + s1 * s1) * 1000000
                 // (9 * n_items * n_items) AS BIGINT) AS pe_ppm
        FROM agg)
      SELECT CAST(3 AS BIGINT) AS n_raters, n_items, pbar_ppm, pe_ppm,
             CAST(CASE WHEN pbar_ppm >= pe_ppm
               THEN (pbar_ppm - pe_ppm) * 1000000
                 // greatest(1000000 - pe_ppm, 1)
               ELSE -((pe_ppm - pbar_ppm) * 1000000
                 // greatest(1000000 - pe_ppm, 1))
             END AS BIGINT) AS fleiss_kappa_ppm
      FROM pp
    """.trim))

  /** Preference-pair EXPORT manifest — the DPO prep step: the
    * preference family measures (strengths, calibration,
    * intransitivity, agreement); this EMITS the training artifact
    * those measurements gate. One row per kept duel instance:
    * chosen/rejected with the Bradley-Terry margin (the model's win
    * probability for chosen, exact ppm off the shared 2-round fit),
    * the observed rater-agreement weight for that ordered pair
    * (wins·10⁶ div games), with exact DEDUP (first duel per rater ×
    * ordered pair wins, the G2 discipline) and EVAL-CONTAMINATION
    * screening composed in (raters with user_id % 10 = 0 are the
    * held-out eval panel; any training duel whose CONTEXT pair — the
    * two events' `props.k` values — was also judged by an eval rater
    * is anti-joined out, the `q_corpus_prep` pattern applied to
    * preference data).
    *
    * Scale: one per-rater lead window (the shared duel pass), one
    * vocab-sized BT fit, broadcast joins for margins/agreement, and
    * an anti-join against the (small, distinct) eval context set —
    * nothing pairwise, nothing collected. */
  val qPrefPairsExport: Q = Q(
    "q_pref_pairs_export",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val inst = graft.operators.PrefDuelArtifact.duels(Tables.events(spark, dir)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long")),
          "k" -> "k2")
        .select(col("user_id"), col("event_id"), col("k"), col("k2"),
          col("winner").as("chosen"), col("loser").as("rejected"))
      val train = inst.filter(pmod(col("user_id"), lit(10)) =!= 0)
      val evalCtx = inst.filter(pmod(col("user_id"), lit(10)) === 0)
        .select(col("k"), col("k2")).distinct()
      val wd = Window.partitionBy(col("user_id"), col("chosen"),
        col("rejected")).orderBy(col("event_id"))
      val deduped = train.withColumn("rn", row_number().over(wd))
        .filter(col("rn") === 1).drop("rn")
      val screened = deduped.join(broadcast(evalCtx), Seq("k", "k2"),
        "left_anti")
      val wins = graft.operators.PrefDuelArtifact.wins(spark, dir)
      val s = graft.operators.PrefDuelArtifact.fit(spark, dir)
        .select(col("item"), col("strength_ppm"))
      val games = wins
        .select(col("winner").as("i"), col("loser").as("j"), col("n"))
        .unionAll(wins.select(col("loser").as("i"),
          col("winner").as("j"), col("n")))
        .groupBy(col("i"), col("j")).agg(sum(col("n")).as("ng"))
      val agr = wins.join(games,
          wins("winner") === games("i") && wins("loser") === games("j"))
        .select(col("winner").as("chosen"), col("loser").as("rejected"),
          expr("n * 1000000 div ng").as("agreement_ppm"))
      screened
        .join(broadcast(s.select(col("item").as("chosen"),
          col("strength_ppm").as("sc"))), "chosen")
        .join(broadcast(s.select(col("item").as("rejected"),
          col("strength_ppm").as("sr"))), "rejected")
        .join(broadcast(agr), Seq("chosen", "rejected"))
        .select(col("user_id"), col("event_id"), col("chosen"),
          col("rejected"), col("k"), col("k2"),
          expr("sc * 1000000 div greatest(sc + sr, 1)").as("margin_ppm"),
          col("agreement_ppm"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some(s"""$btCte,
      seq2 AS (
        SELECT user_id, event_id, event_type, value,
               CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT)
                 AS k,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY event_id) AS nt,
               lead(value) OVER (PARTITION BY user_id
                 ORDER BY event_id) AS nv,
               lead(CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1)
                 AS BIGINT)) OVER (PARTITION BY user_id
                 ORDER BY event_id) AS k2
        FROM events),
      inst AS (
        SELECT user_id, event_id, k, k2,
               CASE WHEN value > nv OR (value = nv AND event_type < nt)
                 THEN event_type ELSE nt END AS chosen,
               CASE WHEN value > nv OR (value = nv AND event_type < nt)
                 THEN nt ELSE event_type END AS rejected
        FROM seq2 WHERE nt IS NOT NULL AND nt <> event_type),
      train AS (SELECT * FROM inst WHERE user_id % 10 <> 0),
      evalctx AS (
        SELECT DISTINCT k, k2 FROM inst WHERE user_id % 10 = 0),
      dd AS (
        SELECT user_id, event_id, k, k2, chosen, rejected FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id, chosen,
            rejected ORDER BY event_id) AS rn
          FROM train)
        WHERE rn = 1),
      scr AS (
        SELECT d.* FROM dd d LEFT JOIN evalctx e
          ON e.k = d.k AND e.k2 = d.k2
        WHERE e.k IS NULL),
      agr AS (
        SELECT w.winner AS chosen, w.loser AS rejected,
               CAST(w.n * 1000000 // g.n AS BIGINT) AS agreement_ppm
        FROM wins w JOIN games g ON g.i = w.winner AND g.j = w.loser)
      SELECT s.user_id, s.event_id, s.chosen, s.rejected, s.k, s.k2,
             CAST(a.s * 1000000 // greatest(a.s + b.s, 1) AS BIGINT)
               AS margin_ppm,
             agr.agreement_ppm
      FROM scr s
      JOIN it2 a ON a.i = s.chosen
      JOIN it2 b ON b.i = s.rejected
      JOIN agr ON agr.chosen = s.chosen AND agr.rejected = s.rejected
      ORDER BY s.user_id, s.event_id
    """.trim))


  /** Tokenize-pack-shard under the LEARNED vocabulary — the actual
    * pretraining data-prep output: every document's TRUE subword token
    * count comes from the stored BPE decompositions
    * ([[graft.operators.BpeVocabArtifact]] reprs — each word occurrence
    * contributes its learned `n_symbols`, never a whitespace count),
    * and documents pack greedily in (source, doc_id) order into
    * 2048-token shards by concat-and-chunk: shard = tokens-before DIV
    * budget. The manifest row per (source, shard) is what a sharded
    * dataset writer consumes: doc count, true token mass, id range.
    * Scale: the only window is a per-source running sum (bounded
    * partitions, the `q_chunk_boundaries` shape); the join to the
    * vocab artifact is vocab-sized. The oracle replays the learned
    * segmentation from the same merge rules, then the identical
    * cumulative packing. */
  val qTokenizedShards: Q = Q(
    "q_tokenized_shards",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, dir)
      val reprs = graft.operators.BpeVocabArtifact.reprs(spark, dir)
        .select(col("w"), col("n_symbols"))
      val docTok = docs
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .join(reprs, "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("n_symbols")).as("t"))
      val allDocs = docs.select(col("doc_id"), col("source"))
        .join(docTok, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("t"), lit(0L)).as("doc_tokens"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      allDocs
        .withColumn("cum", sum(col("doc_tokens")).over(w))
        .withColumn("shard", expr("(cum - doc_tokens) DIV 2048"))
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_tokens")).as("shard_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("shard"))
    },
    Some(s"""
      WITH ${bpeVocabCtes(graft.operators.BpeVocabArtifact.Rounds)},
      nsym AS (
        SELECT w, CAST(len(string_split(trim(repr), '  ')) AS BIGINT)
                 AS n_symbols
        FROM r${graft.operators.BpeVocabArtifact.Rounds}),
      occ AS (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents),
      dt AS (
        SELECT doc_id, sum(n_symbols) AS t
        FROM occ JOIN nsym USING (w) WHERE len(w) > 0 GROUP BY doc_id),
      alld AS (
        SELECT d.doc_id, d.source, coalesce(dt.t, 0) AS doc_tokens
        FROM documents d LEFT JOIN dt ON dt.doc_id = d.doc_id),
      csum AS (
        SELECT doc_id, source, doc_tokens,
               sum(doc_tokens) OVER (PARTITION BY source
                 ORDER BY doc_id) AS cum
        FROM alld),
      sh AS (
        SELECT source, (cum - doc_tokens) // 2048 AS shard,
               doc_tokens, doc_id
        FROM csum)
      SELECT source, CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
             CAST(sum(doc_tokens) AS BIGINT) AS shard_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM sh GROUP BY 1, 2 ORDER BY source, shard
    """.trim))

  def all: Seq[Q] = Seq(qTextJsd, qTextCollocations, qSignalCorr, qMetaMi,
    qTextHapax, qBpeMerges, qBpeVocab, qFertilityLearned,
    qUnigramVocab, qFertilityUnigram, qTokenizerDuel,
    qChaoRichness, qTextHeaps, qTextBurstiness,
    qPrefBradleyTerry, qPrefCalibration, qPrefIntransitivity,
    qPrefKappa, qPrefFleiss, qPrefPairsExport, qTokenizedShards)
}
