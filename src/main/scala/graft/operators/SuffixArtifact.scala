package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plain 128-char-window suffix array, DERIVED from the strided
  * artifact instead of stored — the round-12 collapse of what used to
  * be two independently-built rank tables. Block 0 of the strided view
  * covers exactly each document's first `window` code points, so the
  * strided FINAL ranking restricted to block 0 is an order- and
  * equality-preserving image of the plain final ranking; one
  * distributed sort-and-scan ([[SuffixArray.denseRerank]]) re-densifies
  * it into exactly the dense ranks the plain construction would have
  * assigned. Round-12 optimization: that re-rank runs ONCE, at build
  * time, and its output is stored as the `plain_dense` part — every
  * consumer (q_suffix_array's top-100, the plain repeat-pair build)
  * reads the small stored table instead of re-deriving it per run.
  * Intermediate rank levels are no longer stored at all: since the
  * LCP computation moved in-row ([[SuffixArray.commonPrefixLen]]),
  * no consumer reads any level but the last. */
object SuffixArtifact {

  /** Chars of the suffix window — 128 keeps the doubling at 7 rounds
    * and caps reported matches at 128 chars (a match that long is a
    * duplicated document prefix, which is what the trim/drop decision
    * needs; the window widens by adding rounds, one per doubling). */
  final val MaxLen = 128

  /** log2(MaxLen). */
  val Rounds: Int = Integer.numberOfTrailingZeros(MaxLen)

  /** The final plain level — the plain suffix array itself, with exact
    * dense ranks (equal to what the standalone plain doubling build
    * would assign; the DuckDB oracle replaying the plain construction
    * still matches hash-for-hash), read from the stored `plain_dense`
    * part. */
  def last(spark: SparkSession, dir: String): DataFrame =
    StridedSuffixArtifact.read(spark, dir, "plain_dense")
}

/** Strided suffix-array artifact — the FINAL rank level over
  * OVERLAPPING 128-char blocks at stride 64 ([[SuffixArray.blocks]]),
  * so repeats are found anywhere in a document, not just its
  * first-128-char prefix: every position gets ≥64 chars of in-block
  * lookahead (exact matches to 64, opportunistic to 128). Positions
  * are stored in block coordinates (`doc_id` = bid); global
  * coordinates are pure arithmetic, no mapping table. Round 12: only
  * the final level (plus the derived `plain_dense` view) is written —
  * the in-row LCP ([[SuffixArray.commonPrefixLen]]) removed every
  * consumer of the intermediate levels, which cuts 7 of the 8 level
  * parquet writes from the build. */
object StridedSuffixArtifact extends Artifact("suffixstrided", "documents",
    // BlockBase is part of the key: stored bids are base-dependent, so
    // a base change must never serve a stale table
    s"_w${StridedSuffixArtifact.Window}_s${StridedSuffixArtifact.Stride}" +
    s"_b${SuffixArray.BlockBase}") {

  final val Window = SuffixArtifact.MaxLen
  final val Stride = Window / 2
  val Rounds: Int = SuffixArtifact.Rounds

  /** The overlapping-block view of the corpus this artifact ranks —
    * recomputed from `documents` on demand (one narrow map, no
    * shuffle); consumers attach block texts for the in-row LCP. */
  def blockText(spark: SparkSession, dir: String): DataFrame =
    SuffixArray.blocks(graft.Tables.documents(spark, dir), Window, Stride)

  protected def build(b: Artifact.Build): Unit = {
    // round 13: the final level comes from ONE direct suffix-text
    // sort ([[SuffixArray.finalLevel]] — rank-identical to the
    // doubling, which remains as the differential-test reference)
    // instead of 7 doubling rounds of 2 exchanges each.
    b.write(s"level_$Rounds",
      SuffixArray.finalLevel(blockText(b.spark, b.dir), Window))
    // plain view: block-0 restriction in plain coordinates, dense
    // re-rank paid once here (order/equality-preserving restriction,
    // so re-densifying yields exactly the plain construction's ranks).
    // Derived from the parquet just written — the doubling's levels
    // are un-checkpointed lazy frames and must not execute twice.
    val base = SuffixArray.BlockBase
    val plain = b.read(s"level_$Rounds")
      .filter(pmod(col("doc_id"), lit(base)) === 0)
      .select(expr(s"doc_id DIV $base").as("doc_id"), col("pos"),
        col("rank"))
    b.write("plain_dense", SuffixArray.denseRerank(plain))
  }

  /** The stored final level, block-coordinate keyed. */
  def last(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, s"level_$Rounds")
}

/** Materialized STRIDED repeat-pair table — the rank-adjacency LCP
  * output (`(doc_a, pos_a, doc_b, pos_b, lcp)` in global coordinates,
  * seam-reconciled and self-pair-free) stored once so every consumer
  * of "which exact substrings repeat where" reads pairs instead of
  * re-deriving them: `q_dedup_lrs_strided` is the registered build
  * step, `q_dedup_exact_cross`/`q_dedup_exact_apply`/`q_corpus_clean`
  * read the stored pairs. The two-deep artifact convention of the
  * IVF → kNN-edges → NN-descent chain applied to the suffix family. */
object StridedLrsPairsArtifact extends Artifact("suffixpairs", "documents",
    s"_w${StridedSuffixArtifact.Window}_s${StridedSuffixArtifact.Stride}" +
    s"_b${SuffixArray.BlockBase}") {

  protected def build(b: Artifact.Build): Unit = {
    b.write("pairs", SuffixArray.longestRepeatedStrided(
      StridedSuffixArtifact.last(b.spark, b.dir),
      StridedSuffixArtifact.blockText(b.spark, b.dir),
      StridedSuffixArtifact.Stride))
  }

  /** The stored pair table. */
  def pairs(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "pairs")
}

/** Materialized PLAIN repeat-pair table — [[SuffixArray.longestRepeated]]
  * over the derived plain final level, stored once (round 12).
  * `q_dedup_lrs` previously re-ran the whole rank-adjacency LCP pass
  * per execution (~13 s/rep at sf0.1); as with the strided family, the
  * pass is paid once by the registered build step and the query reads
  * the pair table. */
object PlainLrsPairsArtifact extends Artifact("suffixplainpairs", "documents",
    s"_w${SuffixArtifact.MaxLen}") {

  protected def build(b: Artifact.Build): Unit = {
    b.write("pairs", SuffixArray.longestRepeated(
      graft.Tables.documents(b.spark, b.dir),
      SuffixArtifact.last(b.spark, b.dir), SuffixArtifact.MaxLen))
  }

  /** The stored pair table. */
  def pairs(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "pairs")
}
