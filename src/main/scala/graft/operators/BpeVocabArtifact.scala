package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized BPE tokenizer vocabulary: `Rounds` byte-pair merge
  * rules induced from the corpus word-frequency table, plus every
  * word's final symbol decomposition under those LEARNED rules — the
  * tokenizer-build artifact the fertility audit consumes
  * (`q_bpe_vocab` is the registered build step, `q_fertility_learned`
  * the consumer). Extends the 3-merge `q_bpe_merges` demonstration to
  * a parameterized vocabulary build.
  *
  * Mechanics are the established engine-portable BPE shape (see
  * `q_bpe_merges`): the corpus reduces ONCE to vocab×count; symbols
  * ride DOUBLE-space separated with single-space padding so a plain
  * non-overlapping string replace of ` x  y ` → ` xy ` can never
  * match inside a multi-char symbol; ties break by pair string. Every
  * merge round is a vocab-sized aggregate + a broadcast of the 1-row
  * winner — iteration count is the plannable knob, corpus size never
  * re-enters. Rounds materialize eagerly (persist + count, previous
  * round released) so the plan stays shallow at any round count.
  * The round count is pinned in the path. */
object BpeVocabArtifact extends Artifact("bpevocab", "documents",
    s"_r${BpeVocabArtifact.Rounds}") {

  /** Merge rounds — the learned-vocabulary size knob. */
  final val Rounds = 8

  private def pairCounts(r: DataFrame): DataFrame = r
    .select(col("f"), split(expr("trim(repr)"), "  ").as("tl"))
    .filter(size(col("tl")) >= 2)
    .select(col("f"), explode(expr(
      "transform(sequence(1, size(tl) - 1), i -> concat(tl[i-1], ' ', tl[i]))"))
      .as("pair"))
    .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))

  protected def build(b: Artifact.Build): Unit = {
    val words = graft.Tables.documents(b.spark, b.dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    // " f  a  s  t " — single-space pad, double-space between symbols
    var repr = words.select(col("w"),
      concat(lit(" "),
        expr("trim(regexp_replace(w, '(.)', '$1  '))"), lit(" ")).as("repr"),
      col("f")).localCheckpoint(true)
    val tops = scala.collection.mutable.ListBuffer.empty[DataFrame]
    for (rank <- 1 to Rounds) {
      val top = pairCounts(repr)
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(lit(rank).as("merge_rank"), col("pair"),
          expr("replace(pair, ' ', '')").as("merged"), col("cnt"))
        .localCheckpoint(true)
      tops += top
      repr = repr
        .crossJoin(broadcast(top.select(col("pair").as("mp"))))
        .select(col("w"), expr(
          "replace(repr, ' ' || replace(mp, ' ', '  ') || ' ', ' ' || replace(mp, ' ', '') || ' ')")
          .as("repr"), col("f"))
        .localCheckpoint(true)
    }
    b.write("merges", tops.reduce(_ unionAll _))
    b.write("reprs", repr.select(col("w"), col("repr"), col("f"),
      size(split(expr("trim(repr)"), "  ")).cast("long").as("n_symbols")))
  }

  /** The learned merge table `(merge_rank, pair, merged, cnt)`. */
  def merges(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "merges")

  /** Every corpus word's decomposition under the learned rules:
    * `(w, repr, f, n_symbols)`. */
  def reprs(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "reprs")
}
