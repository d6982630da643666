package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Materialized preference-duel reduction — the shared input of the
  * whole `q_pref_*` family (round 13, the [[EdgeArtifact]] treatment
  * applied to preference data).
  *
  * Four registry queries (`q_pref_bradley_terry`, `q_pref_calibration`,
  * `q_pref_intransitivity`, `q_pref_pairs_export`) each re-derived the
  * identical duel win matrix (a corpus-sized per-user lead window) and
  * three of them the identical 2-round Bradley-Terry fit, whose MM
  * rounds re-expand the duel lineage into a 7000-line physical plan —
  * most of those queries' wall time was Catalyst re-planning that tree
  * per materialization, not data. The artifact stores both:
  *
  *  - `wins`: (winner, loser, n)                    — the duel reduction
  *  - `fit`:  (item, n_wins, n_games, strength_ppm) — the exact-integer
  *    2-round MM fit ([[BradleyTerry.strengths]], iters = 2)
  *
  * Both are deterministic pure functions of the events table (exact
  * integer arithmetic end to end), so consumers read byte-identical
  * values to what they previously computed inline — the DuckDB oracle
  * still replays the full derivation from `events`. At 100 TB this is
  * exactly the production posture: the duel matrix is
  * vocabulary-sized (items²), the one corpus pass that builds it is
  * paid once, and every audit query downstream is matrix-sized. */
object PrefDuelArtifact {

  val Iters = 2

  /** Engine-side duel derivation shared by the preference queries:
    * each user's consecutive event pairs (by event_id) with differing
    * types compete, the higher `value` wins (ties to the smaller
    * type). One partitioned lead window — never a global sort. */
  private def duelWins(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val seq0 = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"))
      .withColumn("nt", lead(col("event_type"), 1).over(w))
      .withColumn("nv", lead(col("value"), 1).over(w))
      .filter(col("nt").isNotNull && col("nt") =!= col("event_type"))
    val firstWins = col("value") > col("nv") ||
      (col("value") === col("nv") && col("event_type") < col("nt"))
    seq0
      .select(when(firstWins, col("event_type")).otherwise(col("nt"))
        .as("winner"),
        when(firstWins, col("nt")).otherwise(col("event_type"))
          .as("loser"))
      .groupBy(col("winner"), col("loser"))
      .agg(count(lit(1)).as("n"))
  }

  private val spec = Artifact("prefduel", "events", "",
      Seq("wins", "fit")) { b =>
    val wins = duelWins(b.spark, b.dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      b.write("wins", wins)
      val fit = BradleyTerry.strengths(wins, iters = Iters)
      try b.write("fit", fit)
      finally fit.unpersist()
    } finally wins.unpersist()
  }

  def path(dir: String): String = spec.path(dir)

  def materialize(spark: SparkSession, dir: String): String =
    spec.materialize(spark, dir)

  /** The duel win matrix `(winner, loser, n)`. */
  def wins(spark: SparkSession, dir: String): DataFrame =
    spec.read(spark, dir, "wins")

  /** The 2-round Bradley-Terry fit
    * `(item, n_wins, n_games, strength_ppm)`. */
  def fit(spark: SparkSession, dir: String): DataFrame =
    spec.read(spark, dir, "fit")
}
