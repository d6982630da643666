package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized UNIGRAM-LM tokenizer vocabulary (the SentencePiece
  * unigram family, Kudo 2018 — the second of the two standard subword
  * tokenizer builds, complementing the merge-based
  * [[BpeVocabArtifact]]): a candidate-piece inventory scored over the
  * corpus, a Viterbi segmentation of every word under those scores,
  * and one hard-EM re-estimation round — piece scores re-set to their
  * segmentation usage, then every word re-segmented under the
  * re-estimated scores. `q_unigram_vocab` is the registered build
  * step; `q_fertility_unigram` consumes the stored decompositions.
  *
  * Where the paper runs soft EM over float log-likelihoods, this
  * build keeps the EXACT-INTEGER discipline every graft operator
  * holds for engine parity: the Viterbi objective is lexicographic
  * (fewest pieces, then highest total piece score, then shortest
  * last piece), encoded as one BIGINT cost `pieces·2^42 − Σscore`
  * (valid while every score < 2^42 — scores are corpus occurrence
  * counts, so this holds far past 100 TB of the document table) with
  * the deterministic `(cost asc, piece-length asc)` tie-break. Both
  * engines replay the identical arithmetic, so the parity gate is a
  * real check, not a float coincidence.
  *
  * Scale + execution shape: the corpus enters ONCE (the
  * word-frequency reduction; everything after is sized by the
  * DISTINCT word table, Heaps-bounded). Each pass is ONE broadcast
  * vocab join + ONE per-word aggregate, because the whole DP runs
  * IN-ROW over the word's ≤`MaxLen·PieceMax` scored-piece array with
  * SQL higher-order functions (`aggregate`/`filter`/`array_min`) —
  * no iterative round stages, no per-round scheduling overhead (an
  * earlier 20-round frame-algebra formulation spent ~20 s in stage
  * latency on the identical arithmetic; the in-row DP is the same
  * exact integers in ~2 s). The DuckDB oracle replays the DP as
  * unrolled round CTEs — two entirely different execution shapes must
  * land the same optimum, which the parity gate and the
  * `UnigramVocabSpec` sequential replay both pin. Words longer than
  * [[MaxLen]] fall outside the tokenizer domain and take the
  * documented one-char-per-piece fallback in the fertility consumer. */
object UnigramVocabArtifact extends Artifact("unigramvocab", "documents",
    s"_l${UnigramVocabArtifact.MaxLen}p${UnigramVocabArtifact.PieceMax}") {

  /** DP bound — the longest word the tokenizer segments (corpus max
    * is 8; see the fallback note above). */
  final val MaxLen = 10

  /** Longest candidate piece. */
  final val PieceMax = 5

  /** Cost base: `cost = pieces·B − Σscore`, lexicographic while every
    * piece score < B. */
  val B: Long = 1L << 42

  /** In-row forward DP: `dp[j]` (1-based `element_at`, index j+1) =
    * best `(cost, last-piece length)` for the word's first j chars,
    * minimized over the scored pieces ending at j — `array_min`'s
    * struct ordering IS the `(cost asc, bl asc)` tie-break. */
  private def dpSql: String = s"""
    aggregate(
      sequence(1, length(w)),
      array(struct(CAST(0 AS BIGINT) AS cost, 0 AS bl)),
      (acc, j) -> concat(acc, array(
        array_min(transform(
          filter(ps, p -> p.i + p.l - 1 = j),
          p -> struct(element_at(acc, p.i).cost + ${B}L - p.c AS cost,
                      p.l AS bl))))))"""

  /** In-row backtrack over the dp array: `MaxLen` fixed steps, each
    * prepending the piece the best path entered position `pos` with. */
  private def btSql: String = s"""
    aggregate(
      sequence(1, $MaxLen),
      struct(length(w) AS pos, CAST(array() AS array<string>) AS acc),
      (st, t) -> IF(st.pos > 0,
        struct(st.pos - element_at(dp, st.pos + 1).bl AS pos,
               concat(array(substring(w, st.pos - element_at(dp, st.pos + 1).bl + 1,
                                      element_at(dp, st.pos + 1).bl)),
                      st.acc) AS acc),
        st),
      st -> st.acc)"""

  /** Viterbi-segment every word under `vocab(piece, c)`; `ex` is the
    * exploded (w, f, i, l, piece) candidate-occurrence table. Returns
    * (decompositions `(w, f, n_pieces, repr, pieces)`, usage
    * `(piece, c)` re-counted from the segmentation). Single-character
    * pieces are all present in `vocab` in both passes, so the DP is
    * total. */
  private def viterbi(ex: DataFrame, vocab: DataFrame)
      : (DataFrame, DataFrame) = {
    val v = vocab.select(col("piece"), col("c").cast("long").as("c"))
    val segmented = ex
      .join(broadcast(v), "piece")
      .groupBy(col("w"))
      .agg(max(col("f")).as("f"),
        collect_list(struct(col("i"), col("l"), col("c"))).as("ps"))
      .withColumn("dp", expr(dpSql))
      .select(col("w"), col("f"), expr(btSql).as("pieces"))
      .select(col("w"), col("f"),
        size(col("pieces")).cast("long").as("n_pieces"),
        array_join(col("pieces"), " ").as("repr"), col("pieces"))
    val seg = segmented.localCheckpoint(true)
    val usage = seg
      .select(col("f"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("c"))
    (seg, usage)
  }

  protected def build(b: Artifact.Build): Unit = {
    val words = graft.Tables.documents(b.spark, b.dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= MaxLen)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    // every candidate piece occurrence, once: both passes join their
    // vocab against this table, and pass-1 scores aggregate from it
    val ex = words.select(col("w"), col("f"), explode(expr(
        s"""flatten(transform(sequence(1, least(length(w), $PieceMax)),
            L -> transform(sequence(1, length(w) - L + 1),
                           i -> struct(i AS i, L AS l,
                                       substring(w, i, L) AS piece))))"""))
        .as("p"))
      .select(col("w"), col("f"), col("p.i").as("i"), col("p.l").as("l"),
        col("p.piece").as("piece"))
      .localCheckpoint(true)
    // pass-1 scores: raw weighted substring-occurrence counts
    val cand = ex.groupBy(col("piece")).agg(sum(col("f")).as("c"))
    val (_, usage1) = viterbi(ex, cand)
    val u1 = usage1.localCheckpoint(true)
    // pass-2 scores: hard-EM re-estimation — usage counts; every
    // single char stays in the vocabulary (score 0 if unused) so the
    // DP remains total
    val chars = ex.filter(col("l") === 1).select(col("piece")).distinct()
    val vocab2 = chars.join(u1, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("c"), lit(0L)).as("c"))
      .unionByName(u1.filter(length(col("piece")) > 1))
    val (segs2, usage2) = viterbi(ex, vocab2)
    b.write("vocab", usage2.select(col("piece"),
      length(col("piece")).cast("long").as("piece_len"), col("c")))
    b.write("reprs",
      segs2.select(col("w"), col("f"), col("n_pieces"), col("repr")))
  }

  /** Final learned vocabulary `(piece, piece_len, c)` — pieces
    * actually used by the pass-2 segmentation, scored by usage. */
  def vocab(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "vocab")

  /** Every in-domain word's decomposition `(w, f, n_pieces, repr)`
    * under the learned vocabulary. */
  def reprs(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "reprs")
}
