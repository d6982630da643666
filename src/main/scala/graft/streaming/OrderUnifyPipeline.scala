package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, TimeMode, Trigger}
import org.apache.spark.sql.Row

/** End-to-end streaming pipeline — Spark re-expression of the
  * reference topology (`OrderProjectionTopology.java:39-64`):
  *
  * {{{
  * kafka(3 topics) -> parse JSON -> canonicalize type w/ topic fallback
  *   -> filter null/invalid -> groupByKey(orderId)   // ≙ repartition topic
  *   -> unify (transformWithState)                   // ≙ transformer+punctuator
  *   -> (key=orderId, value=payload JSON) -> kafka sink
  * }}}
  *
  * Scale design: the only shuffle is the `groupByKey` exchange on
  * orderId (high cardinality — partitions evenly at any cluster width);
  * state per key is bounded (≤3 events + deadline), and Spark fires
  * each key's registered timer in the micro-batch it falls due in
  * instead of the reference's O(all pending keys) full-store scan every
  * second (`OrderProjectionTransformer.java:35,90-104`) — same
  * semantics, strictly better asymptotics.
  */
object OrderUnifyPipeline {

  implicit val stringEnc: Encoder[String] = Encoders.STRING
  implicit val orderEventEnc: Encoder[OrderEvent] = Encoders.product[OrderEvent]
  implicit val pendingEnc: Encoder[PendingOrder] = Encoders.product[PendingOrder]
  implicit val resultEnc: Encoder[ProjectionResult] = Encoders.product[ProjectionResult]

  val sourceTopics: Seq[String] =
    Seq("order-created", "order-placed", "order-cancelled")
  val sinkTopic: String = "order-projection"

  /** The envelope schema. All leaves are
    * strings: `order_details` is free-form JSON captured as raw text
    * (the reference treats it as an opaque passthrough,
    * `OrderEvent.java:17,24`). */
  val envelopeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("order-id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("timestamp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("order_details",
        org.apache.spark.sql.types.StringType)))

  /** S2+S3+P1+P2 — parse kafka-shaped records (columns: `key`, `value`,
    * `topic`, `seq`) into valid canonicalized events.
    *
    * Malformed-JSON policy is configurable:
    *  - `failFast = false` (default): null-and-filter, surfacing the
    *    drop count as an observed metric (SURVEY.md §7 risk 5 — the
    *    operationally safer divergence). `from_json` runs in
    *    PERMISSIVE mode.
    *  - `failFast = true`: reproduce the reference exactly — a record
    *    whose value is not parseable JSON fails the stream
    *    (`serde/JsonDeserializer.java:27-31` crashes the stream
    *    thread). `from_json` runs in FAILFAST mode, so the micro-batch
    *    task throws and the query terminates.
    *
    * In both modes all four envelope fields are required
    * (`OrderEvent.java:21-24`) — well-formed JSON missing id/type/
    * timestamp drops the record. A `timestamp` that is not an instant
    * (e.g. `"yesterday"`) is dropped and counted like malformed JSON,
    * or fails the query under `failFast`. `order_details` passes
    * through as raw JSON (whitespace-normalized by the extractor).
    */
  def parseAndCanonicalize(records: DataFrame,
                           failFast: Boolean = false): Dataset[OrderEvent] = {
    val spark = records.sparkSession
    import spark.implicits._

    val aliasExpr = OrderEventType.aliases.foldLeft(
      when(lit(false), lit(null: String))) { case (acc, (a, c)) =>
      acc.when(lower(trim(col("rawType"))) === a, lit(c))
    }
    val fallbackExpr = OrderEventType.topicFallback.foldLeft(
      when(lit(false), lit(null: String))) { case (acc, (t, c)) =>
      acc.when(col("topic") === t, lit(c))
    }

    records
      // one parse per record in both modes; a duplicated top-level key
      // is last-wins, as in the reference's Jackson `ObjectMapper`
      .withColumn("env", from_json(col("value"), envelopeSchema,
        Map("mode" -> (if (failFast) "FAILFAST" else "PERMISSIVE"))))
      .withColumn("orderId", col("env").getField("order-id"))
      .withColumn("rawType", col("env").getField("type"))
      .withColumn("tsStr", col("env").getField("timestamp"))
      .withColumn("orderDetails", col("env").getField("order_details"))
      .drop("env")
      // P1 — canonicalize with topic fallback (OrderProjectionTopology.java:84-97)
      .withColumn("eventType", coalesce(aliasExpr, fallbackExpr))
      // a non-ISO timestamp fails the query under failFast (as the
      // reference's deserializer does) and is dropped otherwise
      .withColumn("ts",
        if (failFast) col("tsStr").cast("timestamp")
        else col("tsStr").try_cast("timestamp"))
      // S7 — observability: the reference crashes on malformed JSON
      // (serde/JsonDeserializer.java:27-31); we null-and-filter and
      // surface the drop count as an observed metric instead
      // (SURVEY.md §1.3). Read via StreamingQueryProgress
      // .observedMetrics("graft_parse") or QueryExecutionListener.
      .observe("graft_parse",
        count(lit(1)).as("records"),
        count(when(col("orderId").isNull || col("eventType").isNull ||
          col("ts").isNull, 1)).as("dropped"))
      // P2 — null/invalid filter (OrderProjectionTopology.java:80) +
      // required-envelope enforcement (OrderEvent.java:21-24)
      .filter(col("orderId").isNotNull && col("eventType").isNotNull &&
        col("ts").isNotNull)
      .select(
        col("orderId"),
        col("eventType"),
        unix_micros(col("ts")).as("timestampMicros"),
        col("orderDetails"),
        col("seq"))
      .as[OrderEvent]
  }

  /** `order_details` as VariantType (SURVEY.md §1.2): the pipeline
    * state keeps details as the raw string passthrough (matching the
    * reference, `OrderEvent.java:17,24`, and keeping the state-store
    * encoding stable), but downstream consumers get a lossless TYPED
    * view — `details` as a Spark 4 variant with full shredding/
    * type-introspection support (`variant_get`, `schema_of_variant`),
    * strictly richer than string passthrough: field access needs no
    * re-parse and pushes into the scan. Malformed/absent details
    * yield a null variant rather than an error. */
  def detailsAsVariant(events: Dataset[OrderEvent]): DataFrame =
    events.withColumn("details", try_parse_json(col("orderDetails")))

  /** G1-G9 — the stateful unify step: shuffle by orderId (≙ the
    * reference's repartition topic, `OrderProjectionTopology.java:57-59`)
    * then buffer/merge/flush each order at its fixed deadline.
    *
    * `impl = "auto"` (the default) runs [[OrderUnifyProcessor]] under
    * `transformWithState`: one explicit timer per order, so timeout
    * cost tracks EXPIRED keys, not the reference's 1 s full-store
    * punctuation scan (`OrderProjectionTransformer.java:91`). It needs
    * the RocksDB state-store provider, which [[graft.Sessions]] sets;
    * on any other provider the started query fails.
    *
    * `impl = "fmgws"` runs the same [[OrderUnify]] logic under
    * `flatMapGroupsWithState` with processing-time timeouts, whose
    * scan touches the whole store every micro-batch. It is kept as a
    * pinned comparison path; its checkpoints resume only under
    * `"fmgws"`. Any other `impl` throws. */
  def unify(events: Dataset[OrderEvent],
            bufferMillis: Long = OrderUnify.DefaultBufferMillis,
            impl: String = "auto"): Dataset[ProjectionResult] =
    impl match {
      case "auto" =>
        events.groupByKey(_.orderId).transformWithState(
          new OrderUnifyProcessor(bufferMillis),
          TimeMode.ProcessingTime(), OutputMode.Append())
      case "fmgws" =>
        OrderUnify.requireBuffer(bufferMillis)
        events.groupByKey(_.orderId).flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
          OrderUnify.stateFunc(bufferMillis) _)
      case other =>
        throw new IllegalArgumentException(
          s"unify impl must be auto|fmgws, got '$other'")
    }

  /** Kafka source for the three lifecycle topics — the live deployment
    * shape (S1). `seq` = partition offset (arrival order per key, since
    * records are keyed by order-id, `test-consumer-app/main.go:302-304`).
    * Requires the spark-sql-kafka connector on the classpath (not
    * present in this build environment, which also has no broker —
    * tests drive the same pipeline through a MemoryStream of
    * [[SourceRecord]] or [[graft.sources.FileTopics.source]]). */
  def kafkaSource(spark: SparkSession, bootstrap: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", sourceTopics.mkString(","))
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("topic"),
        col("offset").as("seq"))

  /** Full pipeline: source records -> projections. `failFast` selects
    * the malformed-JSON policy (see [[parseAndCanonicalize]]). */
  def projections(records: DataFrame,
                  bufferMillis: Long = OrderUnify.DefaultBufferMillis,
                  failFast: Boolean = false): Dataset[ProjectionResult] =
    unify(parseAndCanonicalize(records, failFast), bufferMillis)

  /** S5 — Kafka sink: key = orderId, value = payload JSON to
    * `order-projection` (`OrderProjectionTopology.java:64`). Trigger
    * interval ≙ the reference's 1 s punctuation granularity
    * (`OrderProjectionTransformer.java:35`). */
  def kafkaSink(out: Dataset[ProjectionResult], bootstrap: String,
                checkpoint: String): DataStreamWriter[Row] =
    out.select(col("orderId").as("key"), col("payloadJson").as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", sinkTopic)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime("1 second"))
}
