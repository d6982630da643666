package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch analog of the reference's order-lifecycle unification pipeline
  * (reference: `OrderProjectionTopology.java:39-64` +
  * `OrderProjectionTransformer.java` + `OrderProjection.java` in
  * selcukusta/kafka_stream_unify_order_messages — see SURVEY.md §2.4).
  *
  * The reference buffers events per order-id for a 5 s processing-time
  * window, keeps the FIRST arrival per event type (duplicates ignored,
  * `OrderProjection.java:55-58`), emits only complete lifecycles
  * (`OrderProjection.java:19-20,94-96`) ordered by type priority
  * (`OrderEventType.java:8-10`), and drops incomplete buffers
  * (`OrderProjectionTransformer.java:111-116`).
  *
  * The batch analog maps: order-id ≙ `user_id`, lifecycle types ≙ a
  * declared-priority subset of `event_type`, the 5 s processing-time
  * buffer ≙ a deterministic event-time bucket. Every step is a pure
  * `Column`-expression transformation, so Catalyst gets full pushdown /
  * pruning and the whole pipeline stays inside whole-stage codegen;
  * the only shuffles are the two keyed exchanges (window dedup + final
  * aggregate) which share the same partitioning keys.
  *
  * Scale note (100 TB): the pipeline shuffles on `(user_id, bucket)` —
  * a high-cardinality composite, so it parallelizes to any cluster
  * width; per-group state is bounded by the number of distinct
  * lifecycle types (3), so no group can blow up an executor.
  */
object Unify {

  /** Lifecycle types with reference-style priorities
    * (created 10 < placed 20 < cancelled 30,
    * `OrderEventType.java:8-10` ≙ signup 10 < purchase 20 < click 30). */
  val typePriority: Seq[(String, Int)] =
    Seq("signup" -> 10, "purchase" -> 20, "click" -> 30)

  val requiredTypes: Seq[String] = typePriority.map(_._1)

  /** Event-time bucket standing in for the 5 s processing-time buffer
    * (`BUFFER_DURATION`, `OrderProjectionTopology.java:29`): batch data
    * spans a month, so a daily bucket keeps the semantics (a fixed,
    * non-extending window per key) while remaining deterministic. */
  val bucketSeconds: Long = 86400L

  /** P1 — type canonicalization with alias table + fallback
    * (`OrderProjectionTopology.java:84-97`, `OrderEventType.java:12-19`).
    * Case-insensitive, accepts short and topic-style aliases; unknown
    * values fall back to `fallback` (the reference falls back to the
    * source topic's type). Pure when/otherwise chain — codegen'd. */
  def canonicalizeType(raw: Column, fallback: Column): Column = {
    val aliases: Seq[(String, String)] = Seq(
      "signup" -> "signup", "event-signup" -> "signup", "sign-up" -> "signup",
      "purchase" -> "purchase", "event-purchase" -> "purchase",
      "click" -> "click", "event-click" -> "click",
      "view" -> "view", "event-view" -> "view",
      "error" -> "error", "event-error" -> "error")
    val lowered = lower(raw)
    aliases.foldLeft(when(lit(false), lit(null: String))) {
      case (acc, (alias, canon)) => acc.when(lowered === alias, lit(canon))
    }.otherwise(fallback)
  }

  /** Priority lookup (`OrderEventType.java:8-10`). Unlisted types get
    * priority 1000 so they sort last deterministically. */
  def priorityOf(eventType: Column): Column =
    typePriority.foldLeft(when(lit(false), lit(0))) {
      case (acc, (t, p)) => acc.when(eventType === t, lit(p))
    }.otherwise(lit(1000))

  /** P2 — null/invalid filter (`OrderProjectionTopology.java:80`). */
  def filterValid(df: DataFrame, keyCol: String, typeCol: String): DataFrame =
    df.filter(col(keyCol).isNotNull && col(typeCol).isNotNull)

  /** G1 batch analog — assign each event its buffer bucket. */
  def withBucket(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("bucket", floor(unix_timestamp(col(tsCol)) / bucketSeconds).cast("long"))

  /** G2 — first-wins per-type dedup: the first arrival per
    * (key, bucket, type) is kept regardless of later duplicates
    * (`OrderProjection.java:55-58`). Arrival order in batch is the
    * deterministic (ts, event_id) order. */
  def dedupFirstWins(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("bucket"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** The full flagship pipeline: filter → canonicalize → bucket →
    * first-wins dedup → complete-only priority-ordered projection.
    * Exercises S1-S3, P1, P2, U1, G2-G5, G8 in one query (SURVEY.md §7
    * phase 1).
    *
    * Scale-optimal formulation: because the required-type set is a
    * small constant, first-wins dedup is expressed as one
    * `min(when(type = t, struct(ts, event_id)))` aggregate per type —
    * a single hash aggregate with map-side partial aggregation and ONE
    * shuffle on (user_id, bucket). The window/row_number formulation
    * ([[dedupFirstWins]], kept for the per-operator verify queries)
    * needs an extra exchange + sort; at 100 TB the difference is a full
    * pass over the data. */
  def projection(events: DataFrame): DataFrame = {
    val canon = filterValid(events, "user_id", "event_type")
      .withColumn("event_type",
        canonicalizeType(col("event_type"), col("event_type")))
      .filter(col("event_type").isin(requiredTypes: _*))
    val bucketed = withBucket(canon, "ts")
    val firstOf = typePriority.map { case (t, _) =>
      min(when(col("event_type") === t,
        struct(col("ts"), col("event_id")))).as(s"first_$t")
    }
    bucketed
      .groupBy(col("user_id"), col("bucket"))
      .agg(firstOf.head, firstOf.tail: _*)
      .filter(typePriority.map { case (t, _) => col(s"first_$t").isNotNull }
        .reduce(_ && _))
      .select(col("user_id"), col("bucket"),
        concat_ws(",", typePriority.map { case (t, _) =>
          concat_ws(":", lit(t), col(s"first_$t")("event_id"))
        }: _*).as("payload"))
      .orderBy(col("user_id"), col("bucket"))
  }

  /** Watermark-simulation DEAD-LETTER audit over an arrival-ordered
    * event log — the batch analog of the streaming operator's
    * `numRowsDroppedByWatermark` ([[graft.streaming
    * .OrderUnifyEventTime.unify]]), but REPORTING the would-be
    * drops instead of silently filtering them. The watermark an event
    * meets on arrival is the max event time of everything that
    * arrived STRICTLY BEFORE it (by `arr`) minus the delay; the event
    * is late iff its own time is below that.
    *
    * Scale shape: the global running max is a TWO-LEVEL prefix scan,
    * never a partition-less window — per-bucket maxima (one shuffle
    * of N/bucketSize rows), bucket prefix maxima by a broadcast
    * lower-triangle self-join of that SMALL table, and a within-bucket
    * running max windowed BY bucket (bounded partitions). At corpora
    * where N/bucketSize itself outgrows a broadcast, the same
    * construction recurses one more level; bucketSize is the knob.
    *
    * Input needs `(arr, tsm)` columns (arrival sequence, event-time
    * micros); all other columns pass through. Adds `wm` (the simulated
    * watermark at arrival, null for the globally-first bucket head)
    * and `late`. */
  def lateAudit(events: DataFrame, delayMicros: Long,
                bucketSize: Int = 4096): DataFrame = {
    val ev = events.withColumn("bucket", expr(s"arr DIV $bucketSize"))
    val bmax = ev.groupBy(col("bucket")).agg(max(col("tsm")).as("bmx"))
    val pref = bmax.as("x")
      .join(broadcast(bmax.as("y")), col("y.bucket") < col("x.bucket"),
        "left")
      .groupBy(col("x.bucket").as("bucket"))
      .agg(max(col("y.bmx")).as("pmx"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("arr"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.join(broadcast(pref), "bucket")
      .withColumn("inmx", max(col("tsm")).over(w))
      .withColumn("wm", greatest(col("pmx"), col("inmx")) - delayMicros)
      .withColumn("late", col("wm").isNotNull && col("tsm") < col("wm"))
      .drop("bucket", "inmx", "pmx")
  }
}
