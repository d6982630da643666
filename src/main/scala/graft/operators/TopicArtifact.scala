package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Materialized unsupervised-topic model: the (doc → topic) assignment
  * table and the bounded topic centroids that `q_text_topics` derives
  * with one spherical-k-means Lloyd round.
  *
  * A topic model is exactly the kind of derived structure a curation
  * pipeline builds ONCE and then interrogates many ways — what are the
  * topics (`q_text_topics`), which terms distinguish each topic
  * (`q_topic_terms`), how well do topics align with known metadata
  * (`q_topic_purity`). Re-running the two assignment passes inside
  * every consumer would repeat the corpus-wide tf joins; instead
  * `q_text_topics` is the registered build step (it pays the full
  * pipeline plus the parquet writes) and the consumers join against
  * the written label table.
  *
  * The tf input is NOT re-tokenized here either: the per-doc token
  * counts come from the materialized tokenized corpus
  * ([[TeacherArtifact]] `toks` — same `TextAnalysis.tokens`
  * whitespace tokenization, the label columns simply pruned at the
  * parquet scan).
  */
object TopicArtifact extends Artifact("topics", "documents", "",
    Seq("assign", "cent")) {

  /** Per-doc full-vocabulary tf vectors `(doc_id, term, w)` — read
    * from the materialized tokenized corpus, never re-exploded. */
  def tf(spark: SparkSession, dir: String): DataFrame =
    TeacherArtifact.toks(spark, dir)
      .select(col("doc_id"), col("token").as("term"), col("tcnt").as("w"))

  /** One Lloyd round of spherical k-means (seeds =
    * per-`lang`-stratum tf-norm argmax docs; centroids bounded to 256
    * components by the native bounded-top-k aggregate; both
    * assignment passes broadcast joins + integer aggregates — see the
    * `q_text_topics` scaladoc for the full determinism/scale
    * contract). Two parquet outputs share one persisted tf scan:
    *  - assign: (doc_id, topic)         — final pass-2 assignment
    *  - cent:   (topic, pos, term, c)   — 256-bounded centroid,
    *                                      pos = rank by (c DESC, term)
    */
  protected def build(b: Artifact.Build): Unit = {
    val docs = Tables.documents(b.spark, b.dir)
    val kept = tf(b.spark, b.dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val norms = kept.groupBy(col("doc_id"))
        .agg(sum(col("w") * col("w")).as("nrm"))
      val seeds = norms
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(max(struct(col("nrm"), (-col("doc_id")).as("negid"))).as("b"))
        .select((-col("b.negid")).as("seed_doc"), col("b.nrm").as("snrm"))
      val seedKept = broadcast(kept
        .join(broadcast(seeds), col("doc_id") === col("seed_doc"))
        .select(col("seed_doc"), col("term"), col("w").as("ws"),
          col("snrm")))
      val fallback = broadcast(seeds.agg(min(col("seed_doc")).as("fbt")))
      // pass 1: nearest seed by cosine (doc norm drops out of argmax)
      val a1 = norms.select(col("doc_id"))
        .join(kept.join(seedKept, "term")
          .groupBy(col("doc_id"), col("seed_doc"), col("snrm"))
          .agg(sum(col("w") * col("ws")).as("dot"))
          .select(col("doc_id"), col("seed_doc"),
            (col("dot").cast("double") / sqrt(col("snrm").cast("double")))
              .as("score"))
          .groupBy(col("doc_id"))
          .agg(min(struct((-col("score")).as("neg"), col("seed_doc")))
            .getField("seed_doc").as("hit")),
          Seq("doc_id"), "left")
        .crossJoin(fallback)
        .select(col("doc_id"), coalesce(col("hit"), col("fbt")).as("topic"))
      // refined centroids, bounded to 256 components per topic
      val centTop = kept.join(a1, "doc_id")
        .groupBy(col("topic"), col("term"))
        .agg(sum(col("w")).as("c"))
        .groupBy(col("topic"))
        .agg(graft.functions.TopKLongAgg(col("c"), col("term"), 256)
          .as("top"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cent = broadcast(centTop
          .select(col("topic"), posexplode(col("top")).as(Seq("pos", "e")))
          .select(col("topic"), col("pos"), col("e.item").as("term"),
            col("e.score").as("c")))
        val s2 = broadcast(cent.groupBy(col("topic"))
          .agg(sum(col("c").cast("decimal(19,0)") * col("c")).as("s2")))
        // pass 2: final assignment against the refined centroids
        val a2 = norms.select(col("doc_id"))
          .join(kept.join(cent.select(col("topic"), col("term"), col("c")),
              "term")
            .groupBy(col("doc_id"), col("topic"))
            .agg(sum(col("w").cast("decimal(19,0)") * col("c")).as("dot"))
            .join(s2, "topic")
            .select(col("doc_id"), col("topic"),
              (col("dot").cast("double") / sqrt(col("s2").cast("double")))
                .as("score"))
            .groupBy(col("doc_id"))
            .agg(min(struct((-col("score")).as("neg"), col("topic")))
              .getField("topic").as("hit")),
            Seq("doc_id"), "left")
          .crossJoin(fallback)
          .select(col("doc_id"), coalesce(col("hit"), col("fbt")).as("topic"))
        b.write("assign", a2.hint("rebalance"))
        b.write("cent", cent)
      } finally centTop.unpersist()
    } finally kept.unpersist()
  }

  /** Final topic assignment `(doc_id, topic)` — every doc with at
    * least one token carries a label; the topic id is its seed doc's
    * id (label-by-representative, like connected components). */
  def assign(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "assign")

  /** Bounded centroids `(topic, pos, term, c)`, pos = 0-based rank by
    * (c DESC, term ASC) within the topic. */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "cent")
}
