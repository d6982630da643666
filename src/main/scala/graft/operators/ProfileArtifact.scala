package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Materialized per-user quasi-identifier profile — the
  * [[PrefDuelArtifact]] treatment applied to the privacy-audit family
  * (round 13).
  *
  * Four registry queries (`q_profile_kanon`, `q_privacy_ladder`,
  * `q_profile_ldiv`, `q_profile_tcloseness`) each re-derived the
  * identical corpus-sized profile (dominant event type, event-volume
  * bucket, active-days bucket, spend bucket per user: two stacked
  * per-user aggregates plus a max-window over type counts) before
  * their own dimension-sized audit. The artifact stores the profile
  * once:
  *
  *  - `profile`: (user_id, dom_type, ebkt, dbkt, sbkt)
  *
  * A deterministic pure function of the events table (counts, integer
  * floor-divisions, min-over-strings tie-break), so consumers read
  * byte-identical rows to what they previously computed inline — the
  * DuckDB oracle still replays the full derivation from `events`
  * (the shared `profileCte`). At 100 TB this is the production posture:
  * the profile is users-sized, the corpus passes that build it are
  * paid once, and every release-audit query downstream is
  * group-histogram-sized. */
object ProfileArtifact extends Artifact("profile", "events", "") {

  /** Engine-side profile derivation (moved verbatim from
    * `PrivacyQueries.profile`): per (user, type, day) counts+cents,
    * dominant type via a per-user max window (ties to the smaller
    * type string), then the bucketed quasi-identifier tuple. */
  private def derive(spark: SparkSession, dir: String): DataFrame = {
    val utd = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"),
        to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val ut = utd.groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("c")).as("cnt"))
    val w = Window.partitionBy(col("user_id"))
    val dom = ut.withColumn("mx", max(col("cnt")).over(w))
      .groupBy(col("user_id"))
      .agg(min(when(col("cnt") === col("mx"), col("event_type")))
        .as("dom_type"))
    val ud = utd.groupBy(col("user_id"))
      .agg(countDistinct(col("d")).as("days"),
        sum(col("c")).as("n_events"),
        sum(col("cents")).as("cents"))
    ud.join(dom, "user_id")
      .select(col("user_id"), col("dom_type"),
        expr("least(n_events div 8, cast(12 as bigint))").as("ebkt"),
        expr("least(days div 5, cast(10 as bigint))").as("dbkt"),
        expr("least(greatest(cents, cast(0 as bigint)) div 100000," +
          " cast(9 as bigint))").as("sbkt"))
  }

  protected def build(b: Artifact.Build): Unit = {
    b.write("profile", derive(b.spark, b.dir))
  }

  /** The per-user profile `(user_id, dom_type, ebkt, dbkt, sbkt)`. */
  def profile(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "profile")
}
