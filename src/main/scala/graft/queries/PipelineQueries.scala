package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.operators.Unify

/** Per-operator verify queries for SURVEY.md §2 — one query per
  * reference operator, each with a DuckDB oracle. Reference citations
  * point at selcukusta/kafka_stream_unify_order_messages (read-only at
  * /root/reference). */
object PipelineQueries {

  /** S1 — source scan (`OrderProjectionTopology.java:74`): plain scan +
    * cardinality stats of the events table. */
  val qScanEvents: Q = Q(
    "q_scan_events",
    (spark, dir) => Tables.events(spark, dir).agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"),
      min(col("event_id")).as("min_event_id"),
      max(col("event_id")).as("max_event_id")),
    Some("""
      SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users,
             min(event_id) AS min_event_id, max(event_id) AS max_event_id
      FROM events
    """.trim))

  /** S2 — JSON deserialize (`serde/JsonDeserializer.java:23-32`):
    * extract the typed field out of the free-form JSON `props` column.
    * Spark uses real JSON-path extraction; the oracle mirrors it with a
    * regex so no DuckDB json extension is needed. */
  val qJsonExtract: Q = Q(
    "q_json_extract",
    (spark, dir) => Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy(col("event_id")),
    Some("""
      SELECT event_id,
             CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
      FROM events ORDER BY event_id
    """.trim))

  /** S3 — ISO-8601 timestamp round-trip (`serde/JsonSerde.java:13-15`):
    * format to ISO-8601 with microseconds and parse back. */
  val qTsRoundtrip: Q = Q(
    "q_ts_roundtrip",
    (spark, dir) => Tables.events(spark, dir)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("iso"))
      .withColumn("ts_back", to_timestamp(col("iso"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
      .orderBy(col("event_id")),
    Some("""
      SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS iso,
             strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'),
                      '%Y-%m-%dT%H:%M:%S.%f') AS ts_back
      FROM events ORDER BY event_id
    """.trim))

  /** P1 — type canonicalization with aliases + fallback
    * (`OrderProjectionTopology.java:84-97`, `OrderEventType.java:12-19`).
    * The testdata types are already canonical, so alias/garbage variants
    * are synthesized deterministically from event_id before
    * canonicalizing — exercising case-insensitivity, the alias table,
    * and the unknown->fallback path. */
  val qCanonicalizeType: Q = Q(
    "q_canonicalize_type",
    (spark, dir) => {
      val raw = when(pmod(col("event_id"), lit(4)) === 0, upper(col("event_type")))
        .when(pmod(col("event_id"), lit(4)) === 1, concat(lit("event-"), col("event_type")))
        .when(pmod(col("event_id"), lit(4)) === 2, col("event_type"))
        .otherwise(concat(lit("junk-"), col("event_type")))
      Tables.events(spark, dir)
        .select(col("event_id"), raw.as("raw"))
        .withColumn("canonical", Unify.canonicalizeType(col("raw"), lit("unknown")))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, raw,
             CASE WHEN lower(raw) IN ('signup','event-signup','sign-up') THEN 'signup'
                  WHEN lower(raw) IN ('purchase','event-purchase') THEN 'purchase'
                  WHEN lower(raw) IN ('click','event-click') THEN 'click'
                  WHEN lower(raw) IN ('view','event-view') THEN 'view'
                  WHEN lower(raw) IN ('error','event-error') THEN 'error'
                  ELSE 'unknown' END AS canonical
      FROM (
        SELECT event_id,
               CASE WHEN event_id % 4 = 0 THEN upper(event_type)
                    WHEN event_id % 4 = 1 THEN 'event-' || event_type
                    WHEN event_id % 4 = 2 THEN event_type
                    ELSE 'junk-' || event_type END AS raw
        FROM events)
      ORDER BY event_id
    """.trim))

  /** P2 — null/invalid filter (`OrderProjectionTopology.java:80`). */
  val qFilterNonnull: Q = Q(
    "q_filter_nonnull",
    (spark, dir) => Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .agg(count(lit(1)).as("n_valid")),
    Some("""
      SELECT count(*) AS n_valid FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    """.trim))

  /** P5 — regex filter (the WASM transform,
    * `docker-compose/transform/transform.go:89-122`; deployed pattern is
    * RE2-and-Java-safe). Word-boundary match over document text. */
  val qRegexFilter: Q = Q(
    "q_regex_filter",
    (spark, dir) => Tables.documents(spark, dir)
      .filter(col("text").rlike("\\bthe\\b"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang")),
    Some("""
      SELECT lang, count(*) AS n FROM documents
      WHERE regexp_matches(text, '\bthe\b')
      GROUP BY lang ORDER BY lang
    """.trim))

  /** P6 — multi-topic routing by metadata
    * (`docker-compose/docker-compose.yml:251-267`): per-route record
    * counts, batch analog of a per-row topic column. */
  val qRouteByType: Q = Q(
    "q_route_by_type",
    (spark, dir) => Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type")),
    Some("""
      SELECT event_type, count(*) AS n FROM events
      GROUP BY event_type ORDER BY event_type
    """.trim))

  /** U1 — stream merge ×3 (`OrderProjectionTopology.java:54-56`):
    * UNION ALL of three per-type slices preserves counts. */
  val qUnionAll: Q = Q(
    "q_union_all",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val slices = Unify.requiredTypes.map(t => ev.filter(col("event_type") === t))
      slices.reduce(_ unionByName _)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n FROM (
        SELECT * FROM events WHERE event_type = 'signup'
        UNION ALL SELECT * FROM events WHERE event_type = 'purchase'
        UNION ALL SELECT * FROM events WHERE event_type = 'click')
      GROUP BY event_type ORDER BY event_type
    """.trim))

  /** G2 — first-wins duplicate suppression (`OrderProjection.java:55-58`):
    * the first arrival per (key, type) is kept regardless of later
    * duplicates; arrival order in batch is (ts, event_id). */
  val qDedupFirstWins: Q = Q(
    "q_dedup_first_wins",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(spark, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""
      SELECT user_id, event_type, event_id AS first_event_id FROM (
        SELECT user_id, event_type, event_id, row_number() OVER (
                 PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        FROM events)
      WHERE rn = 1 ORDER BY user_id, event_type
    """.trim))

  /** G3 — completeness predicate (`OrderProjection.java:19-20,94-96`):
    * groups holding all required lifecycle types. */
  val qCompleteGroups: Q = Q(
    "q_complete_groups",
    (spark, dir) => Unify.withBucket(
        Tables.events(spark, dir)
          .filter(col("event_type").isin(Unify.requiredTypes: _*)), "ts")
      .groupBy(col("user_id"), col("bucket"))
      .agg(countDistinct(col("event_type")).as("n_types"))
      .filter(col("n_types") === Unify.requiredTypes.size)
      .select(col("user_id"), col("bucket"))
      .orderBy(col("user_id"), col("bucket")),
    Some("""
      SELECT user_id, CAST(floor(date_part('epoch', ts) / 86400) AS BIGINT) AS bucket
      FROM events WHERE event_type IN ('signup', 'purchase', 'click')
      GROUP BY 1, 2 HAVING count(DISTINCT event_type) = 3
      ORDER BY user_id, bucket
    """.trim))

  /** G4 — priority ordering (`OrderProjection.java:74-84`,
    * priorities `OrderEventType.java:8-10`): per key, distinct types in
    * priority order (not timestamp order); unlisted types sort last by
    * name. */
  val qPrioritySort: Q = Q(
    "q_priority_sort",
    (spark, dir) => Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"))
      .distinct()
      .withColumn("priority", Unify.priorityOf(col("event_type")))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("priority"), col("event_type")))).as("evs"))
      .select(col("user_id"),
        concat_ws(",", transform(col("evs"), e => e("event_type"))).as("type_seq"))
      .orderBy(col("user_id")),
    Some("""
      SELECT user_id, string_agg(event_type, ',' ORDER BY priority, event_type) AS type_seq
      FROM (
        SELECT DISTINCT user_id, event_type,
               CASE event_type WHEN 'signup' THEN 10 WHEN 'purchase' THEN 20
                    WHEN 'click' THEN 30 ELSE 1000 END AS priority
        FROM events)
      GROUP BY user_id ORDER BY user_id
    """.trim))

  /** G5 — projection payload assembly (`OrderProjectionPayload.java:8-30`,
    * `OrderProjection.java:86-92`): the emitted `{orderId, events[...]}`
    * document, string-assembled identically in both engines. */
  val qProjectionPayload: Q = Q(
    "q_projection_payload",
    (spark, dir) => {
      val deduped = Unify.dedupFirstWins(
        Unify.withBucket(
          Tables.events(spark, dir)
            .filter(col("event_type").isin(Unify.requiredTypes: _*))
            .withColumn("priority", Unify.priorityOf(col("event_type"))), "ts"))
      deduped
        .groupBy(col("user_id"), col("bucket"))
        .agg(
          sort_array(collect_list(struct(
            col("priority"), col("event_id"), col("event_type")))).as("evs"),
          countDistinct(col("event_type")).as("n_types"))
        .filter(col("n_types") === Unify.requiredTypes.size)
        .select(col("user_id"), col("bucket"),
          concat(lit("{\"orderId\":"), col("user_id"), lit(",\"events\":[\""),
            concat_ws("\",\"",
              transform(col("evs"), e => concat_ws(":", e("event_type"), e("event_id")))),
            lit("\"]}")).as("payload_json"))
        .orderBy(col("user_id"), col("bucket"))
    },
    Some("""
      WITH firsts AS (
        SELECT *, row_number() OVER (
                 PARTITION BY user_id, bucket, event_type
                 ORDER BY ts, event_id) AS rn
        FROM (
          SELECT event_id, user_id, event_type, ts,
                 CASE event_type WHEN 'signup' THEN 10 WHEN 'purchase' THEN 20
                      WHEN 'click' THEN 30 ELSE 1000 END AS priority,
                 CAST(floor(date_part('epoch', ts) / 86400) AS BIGINT) AS bucket
          FROM events
          WHERE event_type IN ('signup', 'purchase', 'click'))
      )
      SELECT user_id, bucket,
             '{"orderId":' || user_id || ',"events":["' ||
             string_agg(event_type || ':' || event_id, '","'
                        ORDER BY priority, event_id) || '"]}' AS payload_json
      FROM firsts WHERE rn = 1
      GROUP BY user_id, bucket HAVING count(DISTINCT event_type) = 3
      ORDER BY user_id, bucket
    """.trim))

  /** G8 — incomplete groups dropped (`OrderProjectionTransformer.java:111-116`):
    * groups with fewer than all required types produce no projection;
    * this query surfaces exactly those dropped groups. */
  val qIncompleteDropped: Q = Q(
    "q_incomplete_dropped",
    (spark, dir) => Unify.withBucket(
        Tables.events(spark, dir)
          .filter(col("event_type").isin(Unify.requiredTypes: _*)), "ts")
      .groupBy(col("user_id"), col("bucket"))
      .agg(countDistinct(col("event_type")).as("n_types"))
      .filter(col("n_types") < Unify.requiredTypes.size)
      .orderBy(col("user_id"), col("bucket")),
    Some("""
      SELECT user_id, CAST(floor(date_part('epoch', ts) / 86400) AS BIGINT) AS bucket,
             count(DISTINCT event_type) AS n_types
      FROM events WHERE event_type IN ('signup', 'purchase', 'click')
      GROUP BY 1, 2 HAVING count(DISTINCT event_type) < 3
      ORDER BY user_id, bucket
    """.trim))

  /** X2 — fan-out 1→N (`docker-compose/docker-compose.yml:246-263`):
    * each input row becomes 1 login row + 0-2 txn rows via explode over
    * a generated sequence — the reference's only UDTF analog. */
  val qFanoutExplode: Q = Q(
    "q_fanout_explode",
    (spark, dir) => Tables.events(spark, dir)
      .select(col("event_id"),
        explode(sequence(lit(0), pmod(col("event_id"), lit(3)))).as("idx"))
      .withColumn("role", when(col("idx") === 0, lit("login")).otherwise(lit("txn")))
      .orderBy(col("event_id"), col("idx")),
    Some("""
      SELECT event_id, CAST(idx AS BIGINT) AS idx,
             CASE WHEN idx = 0 THEN 'login' ELSE 'txn' END AS role
      FROM events JOIN (VALUES (0), (1), (2)) t(idx) ON idx <= event_id % 3
      ORDER BY event_id, idx
    """.trim))

  /** X3 — strict JSON-schema validation
    * (`docker-compose/transactions-schema.json:1-37`): regex-constrained
    * field + closed value domain, split into valid/invalid counts. */
  val qSchemaValidate: Q = Q(
    "q_schema_validate",
    (spark, dir) => Tables.events(spark, dir)
      .withColumn("is_valid",
        col("props").rlike("^\\{\"k\": -?\\d+\\}$") &&
          col("event_type").isin("signup", "purchase", "click", "view", "error") &&
          col("value").isNotNull)
      .groupBy(col("is_valid")).agg(count(lit(1)).as("n"))
      .orderBy(col("is_valid")),
    Some("""
      SELECT regexp_matches(props, '^\{"k": -?\d+\}$')
               AND event_type IN ('signup','purchase','click','view','error')
               AND value IS NOT NULL AS is_valid,
             count(*) AS n
      FROM events GROUP BY 1 ORDER BY is_valid
    """.trim))

  /** X3 (general form) — the [[graft.operators.JsonSchema]] validator
    * compiled from an actual schema DOCUMENT (required fields, typed
    * properties with patterns, `additionalProperties: false` — the
    * shape of `docker-compose/transactions-schema.json:1-37`), driven
    * over five deterministic record variants: valid, missing-required,
    * extra-property, integer-typed-as-string, pattern-violation. The
    * oracle revalidates with DuckDB's independent JSON machinery
    * (json_keys / json_type / regexp), not a translation of the plan. */
  val qJsonSchemaGeneric: Q = {
    val schemaDoc = """{
      "type": "object",
      "properties": {
        "email": {"type": "string", "pattern": "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+$"},
        "index": {"type": "integer"},
        "price": {"type": "string", "pattern": "^XXX \\d+\\.\\d{6}$"}
      },
      "required": ["email", "index", "price"],
      "additionalProperties": false
    }"""
    Q(
      "q_json_schema_generic",
      (spark, dir) => {
        val kind = pmod(col("id"), lit(5)).cast("int")
        val email = concat(lit("\"email\":\"u"), col("id"), lit("@example.com\""))
        val idxNum = concat(lit("\"index\":"), col("id"))
        val idxStr = concat(lit("\"index\":\""), col("id"), lit("\""))
        val body = concat_ws(",",
          email,
          when(kind === 1, lit(null: String))
            .when(kind === 3, idxStr).otherwise(idxNum),
          when(kind === 4, lit("\"price\":\"XXX 12.5\""))
            .otherwise(lit("\"price\":\"XXX 12.500000\"")),
          when(kind === 2, lit("\"extra\":1")).otherwise(lit(null: String)))
        spark.range(1000).toDF("id")
          .select(kind.as("kind"), concat(lit("{"), body, lit("}")).as("j"))
          .select(col("kind"),
            graft.operators.JsonSchema.isValid(col("j"), schemaDoc).as("is_valid"))
          .groupBy(col("kind"), col("is_valid"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("kind"))
      },
      Some("""
      WITH js AS (
        SELECT CAST(i % 5 AS INTEGER) AS kind,
               '{' || concat_ws(',',
                 '"email":"u' || i || '@example.com"',
                 CASE WHEN i % 5 = 1 THEN NULL
                      WHEN i % 5 = 3 THEN '"index":"' || i || '"'
                      ELSE '"index":' || i END,
                 CASE WHEN i % 5 = 4 THEN '"price":"XXX 12.5"'
                      ELSE '"price":"XXX 12.500000"' END,
                 CASE WHEN i % 5 = 2 THEN '"extra":1' END) || '}' AS j
        FROM range(0, 1000) t(i))
      SELECT kind,
             (json_valid(j)
              AND list_has_all(json_keys(j), ['email', 'index', 'price'])
              AND len(list_filter(json_keys(j),
                    k -> k NOT IN ('email', 'index', 'price'))) = 0
              AND coalesce(json_type(j, '$.email') = 'VARCHAR'
                    AND regexp_matches(j->>'$.email',
                          '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+$'), TRUE)
              AND coalesce(json_type(j, '$.index') IN ('BIGINT', 'UBIGINT'), TRUE)
              AND coalesce(json_type(j, '$.price') = 'VARCHAR'
                    AND regexp_matches(j->>'$.price', '^XXX \d+\.\d{6}$'), TRUE)
             ) AS is_valid,
             CAST(count(*) AS BIGINT) AS n
      FROM js GROUP BY kind, is_valid ORDER BY kind
    """.trim))
  }

  /** `order_details` as VariantType (SURVEY.md §1.2): free-form order
    * detail JSON — flat fields, a nested object present on only some
    * rows — is parsed ONCE into a Spark 4 variant, then consumed via
    * typed `variant_get` paths (`$.price_cents` as long, nested
    * `$.ship.mode` as string, null when absent). Money rides as integer
    * cents so both engines aggregate exactly. The oracle re-extracts
    * with DuckDB's JSON path operators — independent machinery. */
  val qVariantDetails: Q = Q(
    "q_variant_details",
    (spark, dir) => {
      val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
      val j = concat(
        lit("{\"price_cents\":"), cents,
        lit(",\"priority\":\""), col("o_orderpriority"), lit("\""),
        when(pmod(col("o_orderkey"), lit(3)) === 0,
          concat(lit(",\"ship\":{\"mode\":\""), col("o_orderstatus"), lit("\"}")))
          .otherwise(lit("")),
        lit("}"))
      Tables.orders(spark, dir)
        .withColumn("v", parse_json(j))
        .select(
          variant_get(col("v"), "$.priority", "string").as("priority"),
          variant_get(col("v"), "$.price_cents", "long").as("pc"),
          variant_get(col("v"), "$.ship.mode", "string").as("ship_mode"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("pc")).as("total_cents"),
          count(col("ship_mode")).as("n_ship"))
        .orderBy(col("priority"))
    },
    Some("""
      WITH js AS (
        SELECT '{"price_cents":' || CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ||
               ',"priority":"' || o_orderpriority || '"' ||
               CASE WHEN o_orderkey % 3 = 0
                    THEN ',"ship":{"mode":"' || o_orderstatus || '"}'
                    ELSE '' END || '}' AS j
        FROM orders)
      SELECT j->>'$.priority' AS priority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(j->>'$.price_cents' AS BIGINT)) AS BIGINT) AS total_cents,
             CAST(count(j->>'$.ship.mode') AS BIGINT) AS n_ship
      FROM js GROUP BY priority ORDER BY priority
    """.trim))

  /** X1 — deterministic synthetic generator
    * (`docker-compose/generate-profiles.yaml:1-52`): `spark.range`-derived
    * fake profile rows; the oracle reproduces the same formulas. */
  val qSynthGen: Q = Q(
    "q_synth_gen",
    (spark, dir) => {
      val n = 1000
      spark.range(n).toDF("id")
        .withColumn("name", concat(lit("user_"), col("id")))
        .withColumn("email", concat(lit("user_"), col("id"), lit("@example."),
          element_at(array(lit("com"), lit("org"), lit("edu")),
            (pmod(col("id"), lit(3)) + 1).cast("int"))))
        .withColumn("subscription_level",
          element_at(array(lit("Free"), lit("Basic"), lit("Premium")),
            (pmod(col("id"), lit(3)) + 1).cast("int")))
        .withColumn("language",
          element_at(array(lit("en"), lit("es"), lit("fr"), lit("de"), lit("zh"), lit("jp")),
            (pmod(col("id"), lit(6)) + 1).cast("int")))
        .withColumn("registered_at",
          timestamp_micros((lit(1704067200L) + col("id") * 60) * 1000000L))
        .orderBy(col("id"))
    },
    Some("""
      SELECT i AS id, 'user_' || i AS name,
             'user_' || i || '@example.' ||
               CASE i % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'edu' END AS email,
             CASE i % 3 WHEN 0 THEN 'Free' WHEN 1 THEN 'Basic' ELSE 'Premium' END
               AS subscription_level,
             CASE i % 6 WHEN 0 THEN 'en' WHEN 1 THEN 'es' WHEN 2 THEN 'fr'
                        WHEN 3 THEN 'de' WHEN 4 THEN 'zh' ELSE 'jp' END AS language,
             make_timestamp((1704067200 + i * 60) * 1000000) AS registered_at
      FROM range(0, 1000) t(i) ORDER BY id
    """.trim))

  /** EVENT-TIME unify, batch analog ([[graft.streaming
    * .OrderUnifyEventTime]] is the streaming form): per key, the first
    * event's EVENT time anchors a fixed window `[t, t+W)`; the next
    * window anchors at the first event AT/AFTER the previous deadline
    * (the G7-ET reseed) — NOT a tumbling bucket, and inexpressible
    * with one window function because each anchor depends on the
    * previous one. Solved with the engine's fixed-round convention:
    * anchor rounds unroll (anchorᵢ₊₁ = min ts ≥ anchorᵢ + W per key,
    * 16 rounds cover the 30-day corpus at W = 2 days — the round count
    * is span/W-bounded, INDEPENDENT of row count, so the unroll is the
    * plannable knob exactly like the Lloyd/BPE loops). Every event
    * then lands in exactly one window by construction (the next anchor
    * IS the first event past the deadline), and per (key, window) the
    * projection analog reports size, the priority-ordered required
    * types present, and completeness (G3/G4).
    *
    * Scale: each anchor round is one per-key aggregate over the
    * events ≥ the previous anchor (anchors are |keys|-sized,
    * broadcastable); the assignment join fans out ≤ anchors-per-key
    * and filters to exactly one window. */
  val qUnifyEventTime: Q = {
    val W = 172800000000L // 2 days in micros
    val rounds = 16
    Q(
      "q_unify_event_time",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("tsm"),
            col("event_type"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ev.count()
        var cur =
          ev.groupBy(col("user_id")).agg(min(col("tsm")).as("a"))
            .withColumn("grp", lit(1))
            .localCheckpoint(true)
        val anchors = scala.collection.mutable.ListBuffer(cur)
        for (i <- 2 to rounds) {
          cur =
            ev.join(broadcast(cur.select(col("user_id"), col("a").as("pa"))),
                "user_id")
              .filter(col("tsm") >= col("pa") + W)
              .groupBy(col("user_id")).agg(min(col("tsm")).as("a"))
              .withColumn("grp", lit(i))
              .localCheckpoint(true)
          anchors += cur
        }
        val anch = anchors.reduce(_ unionAll _)
        val asg = ev.join(broadcast(anch), "user_id")
          .filter(col("tsm") >= col("a") && col("tsm") < col("a") + W)
        val req = asg
          .filter(col("event_type").isin(graft.operators.Unify.requiredTypes: _*))
          .select(col("user_id"), col("grp"), col("event_type"))
          .distinct()
          .withColumn("priority",
            graft.operators.Unify.priorityOf(col("event_type")))
          .groupBy(col("user_id"), col("grp"))
          .agg(sort_array(collect_list(struct(col("priority"),
            col("event_type")))).as("evs"))
          .select(col("user_id"), col("grp"),
            concat_ws(",", transform(col("evs"), e => e("event_type")))
              .as("type_seq"),
            (size(col("evs")) === graft.operators.Unify.requiredTypes.size)
              .as("complete"))
        asg.groupBy(col("user_id"), col("grp"))
          .agg(min(col("a")).as("grp_start_micros"),
            count(lit(1)).as("n_events"))
          .join(req, Seq("user_id", "grp"), "left")
          .select(col("user_id"), col("grp"), col("grp_start_micros"),
            col("n_events"),
            coalesce(col("type_seq"), lit("")).as("type_seq"),
            coalesce(col("complete"), lit(false)).as("complete"))
          .orderBy(col("user_id"), col("grp"))
      },
      Some {
        val roundCtes = (2 to rounds).map { i =>
          s"""
      a$i AS MATERIALIZED (
        SELECT e.user_id, min(e.tsm) AS a, $i AS grp
        FROM ev e JOIN a${i - 1} p ON p.user_id = e.user_id
        WHERE e.tsm >= p.a + $W
        GROUP BY e.user_id)"""
        }.mkString(",")
        s"""
      WITH ev AS MATERIALIZED (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tsm, event_type
        FROM events),
      a1 AS MATERIALIZED (
        SELECT user_id, min(tsm) AS a, 1 AS grp FROM ev GROUP BY user_id),
      $roundCtes,
      anch AS (${(1 to rounds).map(i => s"SELECT * FROM a$i")
          .mkString(" UNION ALL ")}),
      asg AS MATERIALIZED (
        SELECT e.user_id, n.grp, n.a, e.tsm, e.event_type
        FROM ev e JOIN anch n ON n.user_id = e.user_id
         AND e.tsm >= n.a AND e.tsm < n.a + $W),
      req AS (
        SELECT user_id, grp,
               string_agg(event_type, ',' ORDER BY priority, event_type)
                 AS type_seq,
               count(*) = 3 AS complete
        FROM (
          SELECT DISTINCT user_id, grp, event_type,
                 CASE event_type WHEN 'signup' THEN 10
                      WHEN 'purchase' THEN 20 WHEN 'click' THEN 30
                      ELSE 1000 END AS priority
          FROM asg
          WHERE event_type IN ('signup', 'purchase', 'click'))
        GROUP BY user_id, grp)
      SELECT g.user_id, g.grp, g.a AS grp_start_micros,
             g.n_events, coalesce(r.type_seq, '') AS type_seq,
             coalesce(r.complete, false) AS complete
      FROM (
        SELECT user_id, grp, min(a) AS a, CAST(count(*) AS BIGINT)
               AS n_events
        FROM asg GROUP BY user_id, grp) g
      LEFT JOIN req r ON r.user_id = g.user_id AND r.grp = g.grp
      ORDER BY g.user_id, g.grp
    """.trim
      })
  }


  /** Late-data DEAD-LETTER audit — the batch analog of the streaming
    * operator's `numRowsDroppedByWatermark`
    * ([[graft.streaming.OrderUnifyEventTime.unify]]): a
    * watermark SIMULATION over an arrival-ordered log that reports the
    * would-be drops instead of silently filtering them. The stored
    * event log is time-sorted, so arrival order models ingest jitter
    * deterministically (a ×3 bijection within each 8-block — the
    * oracle replays it); the watermark an event meets = max event time
    * of everything that arrived before it minus a 60 s delay. Per
    * event type: arrivals, late count, late ppm, worst lateness — the
    * dashboard that sizes a real pipeline's watermark delay.
    * Scale: [[graft.operators.Unify.lateAudit]] runs the global
    * running max as a two-level prefix scan (per-bucket maxima +
    * broadcast prefix + within-bucket window), never a partition-less
    * window. */
  val qUnifyLateAudit: Q = Q(
    "q_unify_late_audit",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("tsm"),
          col("event_type"))
        .withColumn("arr", expr(
          "(event_id DIV 8) * 8 + ((event_id % 8) * 3 + event_id DIV 8) % 8"))
      graft.operators.Unify.lateAudit(ev, delayMicros = 60000000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("late").cast("long")).as("n_late"),
          expr("sum(CASE WHEN late THEN 1 ELSE 0 END) * 1000000 DIV count(1)")
            .as("late_ppm"),
          coalesce(max(when(col("late"),
            expr("(wm - tsm) DIV 1000"))), lit(0L)).as("max_late_ms"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS tsm, event_type,
               (event_id // 8) * 8 + ((event_id % 8) * 3 + event_id // 8) % 8
                 AS arr
        FROM events),
      r AS (
        SELECT event_type, tsm,
               max(tsm) OVER (ORDER BY arr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 - 60000000 AS wm
        FROM e)
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CASE WHEN wm IS NOT NULL AND tsm < wm
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
             CAST(sum(CASE WHEN wm IS NOT NULL AND tsm < wm
                           THEN 1 ELSE 0 END) * 1000000 // count(*)
               AS BIGINT) AS late_ppm,
             CAST(coalesce(max(CASE WHEN wm IS NOT NULL AND tsm < wm
                                    THEN (wm - tsm) // 1000 END), 0)
               AS BIGINT) AS max_late_ms
      FROM r GROUP BY event_type ORDER BY event_type
    """.trim))

  def all: Seq[Q] = Seq(
    qScanEvents, qJsonExtract, qTsRoundtrip, qCanonicalizeType,
    qFilterNonnull, qRegexFilter, qRouteByType, qUnionAll,
    qDedupFirstWins, qCompleteGroups, qPrioritySort, qProjectionPayload,
    qIncompleteDropped, qFanoutExplode, qSchemaValidate, qJsonSchemaGeneric,
    qVariantDetails, qSynthGen, qUnifyEventTime, qUnifyLateAudit)
}
