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
object PrefDuelArtifact extends Artifact("prefduel", "events", "",
    Seq("wins", "fit")) {

  val Iters = 2

  /** The preference-duel rule, decided here for every consumer: each
    * user's consecutive events (by event_id) with differing types
    * compete; the higher `value` wins, a tie goes to the smaller type.
    * One row per duel: `(user_id, event_id, winner, loser)`, then for
    * each `(column, next)` in `carry` the first event's `column` and
    * the second event's under the name `next`. One partitioned lead
    * window — never a global sort. */
  def duels(events: DataFrame, carry: (String, String)*): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val leads = (Seq("event_type" -> "nt", "value" -> "nv") ++ carry).map {
      case (c, next) => lead(col(c), 1).over(w).as(next)
    }
    val firstWins = col("value") > col("nv") ||
      (col("value") === col("nv") && col("event_type") < col("nt"))
    events
      .select((Seq("user_id", "event_id", "event_type", "value") ++
        carry.map(_._1)).map(col) ++ leads: _*)
      .filter(col("nt").isNotNull && col("nt") =!= col("event_type"))
      .select(Seq(col("user_id"), col("event_id"),
        when(firstWins, col("event_type")).otherwise(col("nt")).as("winner"),
        when(firstWins, col("nt")).otherwise(col("event_type")).as("loser")) ++
        carry.flatMap { case (c, next) => Seq(col(c), col(next)) }: _*)
  }

  protected def build(b: Artifact.Build): Unit = {
    val wins = duels(Tables.events(b.spark, b.dir))
      .groupBy(col("winner"), col("loser"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      b.write("wins", wins)
      val fit = BradleyTerry.strengths(wins, iters = Iters)
      try b.write("fit", fit)
      finally fit.unpersist()
    } finally wins.unpersist()
  }

  /** The duel win matrix `(winner, loser, n)`. */
  def wins(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "wins")

  /** The 2-round Bradley-Terry fit
    * `(item, n_wins, n_games, strength_ppm)`. */
  def fit(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "fit")
}
