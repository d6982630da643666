package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference ecosystem's secondary streaming surfaces (SURVEY.md
  * §2.2 P5/P6, §2.5 X1/X2) — the Redpanda docker-compose pieces around
  * the core app, re-expressed as Structured Streaming transforms.
  * All are stateless column expressions: they run identically on batch
  * and streaming DataFrames (tests drive them both ways). */
object EcosystemStreams {

  /** P5 — the WASM regex transform (`docker-compose/transform/
    * transform.go:89-122`): forward a record iff key (or value, when
    * matchValue) matches the pattern. The deployed config filters
    * `logins` for .edu emails into `edu-filtered-domains`
    * (`docker-compose/docker-compose.yml:340-355`). Patterns must stay
    * in the RE2 ∩ Java dialect (the deployed one is); user-supplied
    * patterns are checked by [[Re2Dialect]] so a pattern that works
    * here is guaranteed to also compile in the reference's RE2 module
    * and vice versa. */
  val EduPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.edu"

  def regexFilter(records: DataFrame, pattern: String,
                  matchValue: Boolean = false): DataFrame = {
    val target = if (matchValue) col("value") else col("key")
    records.filter(target.rlike(Re2Dialect.validated(pattern)))
  }

  /** P6 — multi-topic routing by metadata
    * (`docker-compose/docker-compose.yml:251-267`): the Kafka sink
    * honors a per-row `topic` column; this assigns it. */
  def routeByColumn(df: DataFrame, routeExpr: org.apache.spark.sql.Column): DataFrame =
    df.withColumn("topic", routeExpr)

  /** X1 — the Bloblang fake-profile generator
    * (`docker-compose/generate-profiles.yaml:1-52`): deterministic fake
    * profiles with the nested `preferences` struct, one per numeric
    * `id` — from `spark.range` in batch or a `rate` source's `value`
    * column as a stream. */
  def fakeProfiles(ids: DataFrame): DataFrame = {
    val id = col("id")
    val pick = (xs: Seq[String], m: Int) =>
      element_at(array(xs.map(lit): _*), (pmod(id, lit(m)) + 1).cast("int"))
    ids
      .withColumn("user_id", id)
      .withColumn("first_name", concat(lit("fn_"), pmod(id, lit(97))))
      .withColumn("last_name", concat(lit("ln_"), pmod(id, lit(89))))
      .withColumn("email", concat(lit("user_"), id, lit("@example."),
        pick(Seq("com", "org", "edu"), 3)))
      .withColumn("subscription_level", pick(Seq("Free", "Basic", "Premium"), 3))
      .withColumn("preferences", struct(
        pick(Seq("en", "es", "fr", "de", "zh", "jp"), 6).as("language"),
        pick(Seq("email", "sms", "push"), 3).as("notifications")))
      .drop("id")
  }

  /** X2 — 1→N fan-out (`docker-compose/docker-compose.yml:246-263`):
    * each profile row becomes 1 login row + 1-3 transaction rows, the
    * reference's only generator/UDTF analog. Row count is derived
    * deterministically from user_id (the reference draws it randomly). */
  def fanout(profiles: DataFrame): DataFrame = {
    val nTxn = pmod(col("user_id"), lit(3)) + 1
    profiles
      .withColumn("idx", explode(sequence(lit(0), nTxn)))
      .withColumn("record_type", when(col("idx") === 0, lit("login")).otherwise(lit("txn")))
      .withColumn("topic", when(col("idx") === 0, lit("logins")).otherwise(lit("transactions")))
  }
}
