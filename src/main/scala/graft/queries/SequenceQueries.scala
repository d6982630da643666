package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Per-entity sequence operators over the events stream: calendar
  * spine gap-fill (the feature-store forward-fill), gaps-and-islands
  * streak detection, and rank-based decile feature binning.
  *
  * Scale posture: every window below is PARTITIONED by user — the
  * shuffle is one hash exchange on user_id and each partition's sort
  * is bounded by that user's history (30 days here; bounded retention
  * in production). No global windows. The date spine is generated
  * per-user with `sequence()` — fan-out is (active span in days), not
  * (corpus days × users). All arithmetic is integer (epoch days,
  * cents) so the DuckDB oracle replays exactly.
  */
object SequenceQueries {

  /** Calendar gap-fill with forward fill — the feature-store shape:
    * every user gets one row per calendar day between their first and
    * last activity, carrying the last observed daily-close value
    * forward across silent days. `sequence()` generates each user's
    * own spine (no cross join against a global calendar), and the fill
    * is `last(ignoreNulls)` over the per-user ordered window. */
  val qGapFill: Q = Q(
    "q_gap_fill",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"),
          col("ts"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      // daily close = value of the day's last event ((ts, event_id) is
      // a total order; max_by on the packed struct is deterministic)
      val daily = ev.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_events"),
          max_by(col("cents"), struct(col("ts"), col("event_id"))).as("close_cents"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("close_cents"), ignoreNulls = true).over(w).as("filled_cents"),
          col("close_cents").isNotNull.as("is_observed"))
        .orderBy(col("user_id"), col("day"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id,
               CAST(floor(date_part('epoch', ts) / 86400) AS BIGINT) AS day,
               ts, event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events),
      ranked AS (
        SELECT user_id, day, cents,
               row_number() OVER (PARTITION BY user_id, day
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev),
      counts AS (
        SELECT user_id, day, count(*) AS n_events FROM ev GROUP BY user_id, day),
      daily AS (
        SELECT c.user_id, c.day, c.n_events, r.cents AS close_cents
        FROM counts c JOIN ranked r
          ON c.user_id = r.user_id AND c.day = r.day AND r.rn = 1),
      spine AS (
        SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
        FROM daily GROUP BY user_id)
      SELECT s.user_id, s.day,
             coalesce(d.n_events, 0) AS n_events,
             last_value(d.close_cents IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents,
             d.close_cents IS NOT NULL AS is_observed
      FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
      ORDER BY s.user_id, s.day
    """.trim))

  /** Gaps-and-islands: longest consecutive-day activity streak per
    * user. Island id = day - dense_rank(day): constant within a run of
    * consecutive days, distinct across gaps — the classic rewrite that
    * turns streak detection into a plain groupBy. Ties broken toward
    * the EARLIEST streak via min_by on the packed (negated length,
    * start) struct. */
  val qStreaks: Q = Q(
    "q_streaks",
    (spark, dir) => {
      val days = Tables.events(spark, dir)
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val islands = days
        .withColumn("island", col("day") - dense_rank().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
      islands.groupBy(col("user_id"))
        .agg(max(col("len")).as("best_streak"),
          min_by(col("start_day"), struct((-col("len")).as("nl"), col("start_day")))
            .as("best_start_day"),
          count(lit(1)).as("n_streaks"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id,
               CAST(floor(date_part('epoch', ts) / 86400) AS BIGINT) AS day
        FROM events),
      isl AS (
        SELECT user_id,
               day - dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS island,
               day
        FROM days),
      runs AS (
        SELECT user_id, island, count(*) AS len, min(day) AS start_day
        FROM isl GROUP BY user_id, island),
      best AS (
        SELECT user_id, len, start_day,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY len DESC, start_day) AS rn
        FROM runs),
      agg AS (
        SELECT user_id, max(len) AS best_streak, count(*) AS n_streaks
        FROM runs GROUP BY user_id)
      SELECT a.user_id, a.best_streak, b.start_day AS best_start_day,
             a.n_streaks
      FROM agg a JOIN best b ON a.user_id = b.user_id AND b.rn = 1
      ORDER BY a.user_id
    """.trim))

  /** Rank-based decile binning of per-user spend WITHIN each event
    * type — the feature transform that turns a skewed continuous
    * feature into a uniform categorical one, cohorted so the window
    * stays PARTITIONED (one hash exchange on event_type, per-type
    * external sort — never a single-partition funnel). Total order
    * (spend_cents, user_id) makes ntile deterministic in both
    * engines. The per-decile summary (bounds + population) IS the bin
    * lookup table a serving layer would broadcast. */
  val qNtileFeatures: Q = Q(
    "q_ntile_features",
    (spark, dir) => {
      val spend = Tables.events(spark, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("spend_cents"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("spend_cents"), col("user_id"))
      spend.withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n_users"),
          min(col("spend_cents")).as("lo_cents"),
          max(col("spend_cents")).as("hi_cents"))
        .orderBy(col("event_type"), col("decile"))
    },
    Some("""
      WITH spend AS (
        SELECT event_type, user_id,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spend_cents
        FROM events GROUP BY event_type, user_id),
      d AS (
        SELECT event_type, user_id, spend_cents,
               CAST(ntile(10) OVER (PARTITION BY event_type
                 ORDER BY spend_cents, user_id) AS BIGINT) AS decile
        FROM spend)
      SELECT event_type, decile, count(*) AS n_users,
             min(spend_cents) AS lo_cents, max(spend_cents) AS hi_cents
      FROM d GROUP BY event_type, decile ORDER BY event_type, decile
    """.trim))

  /** Daily order backlog: per order day, how many orders opened, how
    * many orders became fully shipped (their LAST lineitem ship date),
    * and the running count still open — the operational burn-down.
    * Per-order close dates come from one fact aggregate; the daily
    * grid is a full-outer of two day-level rollups; the running
    * balance is a cumulative window over the DAY table, which is
    * bounded by the calendar (≤ a few thousand rows at any corpus
    * scale — the one shape where a global window is the right plan;
    * allowlisted in the plan audit alongside the other
    * bounded-by-construction windows). */
  val qDailyBacklog: Q = Q(
    "q_daily_backlog",
    (spark, dir) => {
      val opened = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_opened"))
      val closed = Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("close_day"))
        .groupBy(col("close_day").as("day"))
        .agg(count(lit(1)).as("n_closed"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      opened.join(closed, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_opened"), lit(0L)).as("n_opened"),
          coalesce(col("n_closed"), lit(0L)).as("n_closed"))
        .withColumn("open_backlog",
          sum(col("n_opened") - col("n_closed")).over(w))
        .orderBy(col("day"))
    },
    Some("""
      WITH opened AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_opened
        FROM orders GROUP BY 1),
      closes AS (
        SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS close_day
        FROM lineitem GROUP BY l_orderkey),
      closed AS (
        SELECT close_day AS day, count(*) AS n_closed FROM closes GROUP BY 1),
      grid AS (
        SELECT coalesce(opened.day, closed.day) AS day,
               coalesce(n_opened, 0) AS n_opened,
               coalesce(n_closed, 0) AS n_closed
        FROM opened FULL OUTER JOIN closed ON opened.day = closed.day)
      SELECT day, n_opened, n_closed,
             CAST(sum(n_opened - n_closed) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS open_backlog
      FROM grid ORDER BY day
    """.trim))

  /** Zero-initialized exponentially-weighted moving average of each
    * user's event values (α = 0.5): s_n = α·Σ x_i·(1−α)^(n−i) — the
    * classic recency-weighted engagement feature. The closed form
    * makes it one partitioned window pass + one aggregate instead of a
    * sequential recurrence. Cross-engine exactness is free here:
    * 0.5^k is a power of two, so x·0.5^k is EXACT IEEE scaling in
    * both engines, and each term is floored to integer micro-units
    * before the per-user sum (exact-commutative). Terms beyond ~50
    * steps back underflow to zero micro-units — the decay horizon is
    * the point. */
  val qEventEwma: Q = Q(
    "q_event_ewma",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wp = Window.partitionBy(col("user_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wp))
        .select(col("user_id"), col("n"),
          floor(col("value") * pow(lit(0.5d), col("n") - col("rn")) * lit(1e6))
            .cast("long").as("term_micros"))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n_events"),
          sum(col("term_micros")).as("s_micros"))
        // halve in INTEGER micros (α = 0.5) so the displayed value has
        // at most 6 exact decimals — no cross-engine round-tie at the
        // 6th digit is possible
        .select(col("user_id"), col("n_events"),
          round(expr("(s_micros div 2)").cast("double") / 1e6, 6).as("ewma"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH seq AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events),
      terms AS (
        SELECT user_id, n,
               CAST(floor(value * power(0.5, n - rn) * 1e6) AS BIGINT)
                 AS term_micros
        FROM seq)
      SELECT user_id, max(n) AS n_events,
             round(CAST(CAST(sum(term_micros) AS BIGINT) // 2 AS DOUBLE)
                   / 1e6, 6) AS ewma
      FROM terms GROUP BY user_id ORDER BY user_id
    """.trim))

  /** Stationary distribution of the event-type Markov chain: four
    * power-iteration steps of v ← vP from the uniform start, entirely
    * in INTEGER nano-unit arithmetic — each step's contribution is
    * `(v_nanos · n_ab) div n_a` (exact rational transition
    * probabilities, truncating division), so both engines iterate
    * identical BIGINTs and no double appears before the final
    * display. The chain has |event types| = 5 states: after the one
    * full-scan lag + count aggregate, every iteration is a broadcast
    * join of two ≤25-row tables — fixed stage count, nothing wide.
    * The where-does-the-user-journey-settle complement of
    * `q_event_transitions`' one-step shares. */
  val qMarkovStationary: Q = Q(
    "q_markov_stationary",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("a"), col("event_type").as("b"))
        .agg(count(lit(1)).as("n_ab"))
      val p = trans.join(
        trans.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a")), "a")
      val states = p.select(col("a").as("state")).distinct()
      val v0 = states.crossJoin(broadcast(states.agg(count(lit(1)).as("ns"))))
        .select(col("state"), (lit(1000000000L) / col("ns")).cast("long").as("p_nanos"))
      val v4 = (1 to 4).foldLeft(v0) { (v, _) =>
        v.join(broadcast(p), v("state") === p("a"))
          .select(col("b").as("state"),
            expr("(p_nanos * n_ab) div n_a").as("contrib"))
          .groupBy(col("state"))
          .agg(sum(col("contrib")).as("p_nanos"))
      }
      v4.select(col("state"),
          round(col("p_nanos").cast("double") / 1e9, 6).as("prob"))
        .orderBy(col("state"))
    },
    Some("""
      WITH trans AS (
        SELECT prev AS a, event_type AS b, count(*) AS n_ab FROM (
          SELECT user_id, event_type, ts, event_id,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev
          FROM events)
        WHERE prev IS NOT NULL GROUP BY prev, event_type),
      p AS (
        SELECT a, b, n_ab, n_a FROM trans
        JOIN (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a
              FROM trans GROUP BY a) USING (a)),
      states AS (SELECT DISTINCT a AS state FROM p),
      v0 AS (
        SELECT state,
               CAST(1000000000 // (SELECT count(*) FROM states) AS BIGINT)
                 AS p_nanos
        FROM states),
      v1 AS (SELECT p.b AS state,
                    CAST(sum((v0.p_nanos * p.n_ab) // p.n_a) AS BIGINT) AS p_nanos
             FROM v0 JOIN p ON v0.state = p.a GROUP BY p.b),
      v2 AS (SELECT p.b AS state,
                    CAST(sum((v1.p_nanos * p.n_ab) // p.n_a) AS BIGINT) AS p_nanos
             FROM v1 JOIN p ON v1.state = p.a GROUP BY p.b),
      v3 AS (SELECT p.b AS state,
                    CAST(sum((v2.p_nanos * p.n_ab) // p.n_a) AS BIGINT) AS p_nanos
             FROM v2 JOIN p ON v2.state = p.a GROUP BY p.b),
      v4 AS (SELECT p.b AS state,
                    CAST(sum((v3.p_nanos * p.n_ab) // p.n_a) AS BIGINT) AS p_nanos
             FROM v3 JOIN p ON v3.state = p.a GROUP BY p.b)
      SELECT state, round(CAST(p_nanos AS DOUBLE) / 1e9, 6) AS prob
      FROM v4 ORDER BY state
    """.trim))

  /** Day-of-week seasonality index per order priority:
    * observed/expected under independence (obs·N / (row·col)) — 1.0 is
    * flat, >1 over-indexes. The contingency machinery of `q_meta_mi`
    * pointed at the orders calendar: one count aggregate, then
    * everything is broadcast-sized (7 × |priorities| cells). The
    * check a batch scheduler reads before assuming load is uniform
    * across the week. */
  val qDowSeasonality: Q = Q(
    "q_dow_seasonality",
    (spark, dir) => {
      val cells = Tables.orders(spark, dir)
        .select(dayofweek(col("o_orderdate")).as("dow"),
          col("o_orderpriority").as("priority"))
        .groupBy(col("dow"), col("priority"))
        .agg(count(lit(1)).as("n_orders"))
      val rowT = cells.groupBy(col("dow")).agg(sum(col("n_orders")).as("r"))
      val colT = cells.groupBy(col("priority")).agg(sum(col("n_orders")).as("s"))
      val total = cells.agg(sum(col("n_orders")).as("n_total"))
      cells.join(broadcast(rowT), "dow")
        .join(broadcast(colT), "priority")
        .crossJoin(broadcast(total))
        .select(col("dow"), col("priority"), col("n_orders"),
          round((col("n_orders").cast("double") * col("n_total").cast("double"))
            / (col("r").cast("double") * col("s").cast("double")), 6)
            .as("seasonality_idx"))
        .orderBy(col("dow"), col("priority"))
    },
    Some("""
      WITH cells AS (
        SELECT CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
               o_orderpriority AS priority,
               count(*) AS n_orders
        FROM orders GROUP BY 1, 2),
      rowt AS (SELECT dow, CAST(sum(n_orders) AS BIGINT) AS r FROM cells GROUP BY dow),
      colt AS (SELECT priority, CAST(sum(n_orders) AS BIGINT) AS s
               FROM cells GROUP BY priority),
      total AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total FROM cells)
      SELECT dow, priority, n_orders,
             round((CAST(n_orders AS DOUBLE) * CAST(n_total AS DOUBLE))
                   / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE)), 6)
               AS seasonality_idx
      FROM cells JOIN rowt USING (dow) JOIN colt USING (priority), total
      ORDER BY dow, priority
    """.trim))

  /** Last-touch attribution: each purchase credits the user's most
    * recent PRECEDING engagement touch (click or view); purchases with
    * no prior touch are `direct`. The classic marketing-attribution
    * shape as one `last(ignoreNulls)` over the per-user ordered
    * window — no self-join, no per-purchase scan-back; revenue stays
    * in exact integer cents and the share is one broadcast total. */
  val qAttribution: Q = Q(
    "q_attribution",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val attributed = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .withColumn("touch",
          last(when(col("event_type").isin("click", "view"), col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).as("revenue_cents"))
      val total = attributed.agg(sum(col("revenue_cents")).as("total_cents"))
      attributed.crossJoin(broadcast(total))
        .select(col("channel"), col("n_purchases"), col("revenue_cents"),
          round(col("revenue_cents").cast("double")
            / col("total_cents").cast("double"), 6).as("revenue_share"))
        .orderBy(col("channel"))
    },
    Some("""
      WITH touched AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               last_value(CASE WHEN event_type IN ('click', 'view')
                          THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS touch
        FROM events),
      attributed AS (
        SELECT coalesce(touch, 'direct') AS channel,
               count(*) AS n_purchases,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM touched WHERE event_type = 'purchase'
        GROUP BY 1),
      total AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS total_cents
                FROM attributed)
      SELECT channel, n_purchases, revenue_cents,
             round(CAST(revenue_cents AS DOUBLE)
                   / CAST(total_cents AS DOUBLE), 6) AS revenue_share
      FROM attributed, total ORDER BY channel
    """.trim))

  /** CUSUM changepoint monitor over the daily order-count series —
    * the classic "did the level shift" drift detector a pipeline runs
    * on its own ingest volume: cumulative sum of the per-day
    * deviation from the period mean, reported as the maximum positive
    * and negative excursions with their (tie → earlier) days. The
    * deviation is kept integer by scaling with the day count
    * (`c·D − total` instead of `c − total/D`), so the cumulative sums
    * are exact BIGINTs in both engines and the argmax/argmin days are
    * deterministic struct-min selections. The cumulative window runs
    * over the CALENDAR-day table — bounded by the date domain, not
    * the row count (same contract as `q_daily_backlog`). */
  val qCusumDrift: Q = Q(
    "q_cusum_drift",
    (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("c"))
      val tot = daily.agg(sum(col("c")).as("total"), count(lit(1)).as("d"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(tot))
        .select(col("day"), (col("c") * col("d") - col("total")).as("dev"))
        .withColumn("cusum", sum(col("dev")).over(w))
        .agg(
          count(lit(1)).as("n_days"),
          max(col("cusum")).as("max_excursion"),
          min(col("cusum")).as("min_excursion"),
          min(struct((-col("cusum")).as("neg"), col("day")))
            .getField("day").as("peak_day"),
          min(struct(col("cusum").as("v"), col("day")))
            .getField("day").as("trough_day"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS c
        FROM orders GROUP BY 1),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS total,
                     count(*) AS d FROM daily),
      cz AS (
        SELECT day,
               CAST(sum(c * (SELECT d FROM tot) - (SELECT total FROM tot))
                 OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cusum
        FROM daily)
      SELECT (SELECT d FROM tot) AS n_days,
             max(cusum) AS max_excursion,
             min(cusum) AS min_excursion,
             (SELECT day FROM cz ORDER BY cusum DESC, day LIMIT 1) AS peak_day,
             (SELECT day FROM cz ORDER BY cusum ASC, day LIMIT 1) AS trough_day
      FROM cz
    """.trim))

  /** Theil-Sen robust trend over monthly revenue — the median of all
    * pairwise slopes, immune to the outlier months that drag an OLS
    * fit (reported beside it for contrast). The pair space is bounded
    * by the MONTH DOMAIN squared (80 months → 3 160 pairs), so the
    * all-pairs generation and the single rank window are
    * constant-sized at any fact-table scale — the slope ranking
    * orders by the double quotient of exact integers with an exact
    * (num, den) tie-break, and the selected median is emitted as
    * EXACT integer micro-units (num·10⁶ div den, truncating toward
    * zero in both engines), so no double ever reaches the robust
    * output. The OLS slope derives from exact integer moment sums
    * with one rounded double division (the `q_zipf_fit` recipe). */
  val qTheilSen: Q = Q(
    "q_theil_sen",
    (spark, dir) => {
      val monthly = Tables.orders(spark, dir)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .as("idx"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("cents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = monthly.as("a").join(monthly.as("b"),
          col("b.idx") > col("a.idx"))
        .select((col("b.cents") - col("a.cents")).as("num"),
          (col("b.idx") - col("a.idx")).as("den"))
      val ranked = pairs
        .withColumn("sl", col("num").cast("double") / col("den"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("sl"), col("num"), col("den"))))
      val counts = monthly.agg(
        count(lit(1)).as("n_months"),
        sum(col("idx").cast("long")).as("sx"),
        sum(col("cents")).as("sy"),
        sum(col("idx").cast("long") * col("idx")).as("sxx"),
        sum(col("idx").cast("long") * col("cents")).as("sxy"))
      val med = ranked.crossJoin(broadcast(
          pairs.agg(count(lit(1)).as("n_pairs"))))
        .filter(col("rn") === expr("((n_pairs - 1) * 5000) div 10000 + 1"))
        .select(col("n_pairs"),
          expr("num * 1000000 div den").as("ts_slope_micro"))
      med.crossJoin(broadcast(counts))
        .select(col("n_months"), col("n_pairs"), col("ts_slope_micro"),
          round((col("n_months") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy"))
            / (col("n_months") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx")), 6).as("ols_slope"))
    },
    Some("""
      WITH monthly AS (
        SELECT year(CAST(o_orderdate AS DATE)) * 12
                 + month(CAST(o_orderdate AS DATE)) AS idx,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS cents
        FROM orders GROUP BY 1),
      pairs AS (
        SELECT b.cents - a.cents AS num, b.idx - a.idx AS den
        FROM monthly a JOIN monthly b ON b.idx > a.idx),
      ranked AS (
        SELECT num, den,
               row_number() OVER (ORDER BY CAST(num AS DOUBLE) / den,
                 num, den) AS rn
        FROM pairs),
      np AS (SELECT count(*) AS n_pairs FROM pairs),
      med AS (
        SELECT (SELECT n_pairs FROM np) AS n_pairs,
               num * 1000000 // den AS ts_slope_micro
        FROM ranked
        WHERE rn = ((SELECT n_pairs FROM np) - 1) * 5000 // 10000 + 1),
      mo AS (
        SELECT count(*) AS n_months,
               CAST(sum(idx) AS BIGINT) AS sx,
               CAST(sum(cents) AS BIGINT) AS sy,
               CAST(sum(CAST(idx AS BIGINT) * idx) AS BIGINT) AS sxx,
               CAST(sum(CAST(idx AS BIGINT) * cents) AS BIGINT) AS sxy
        FROM monthly)
      SELECT n_months, n_pairs, ts_slope_micro,
             round((n_months * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * sy)
               / (n_months * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * sx), 6) AS ols_slope
      FROM med, mo
    """.trim))

  /** Kaplan-Meier survival curve over user lifetimes — retention with
    * CENSORING handled correctly, which the naive `q_cohort_retention`
    * ratio cannot do: a user still seen on the
    * corpus's final observed day is alive (censored at the
    * observation end),
    * not churned, and simply averaging their shorter lifetime biases
    * the curve down. KM removes censored users from the risk set at
    * their censor time and steps the survival product only on churn
    * days: S(t) = Π(1 − dᵢ/nᵢ). The corpus collapses to a per-user
    * (first, last) span in one aggregate, then a DAY histogram — both
    * cumulative windows (risk set descending, product ascending) walk
    * the calendar-bounded day domain, never rows, so the global
    * windows are constant-size at any corpus scale. The product is
    * carried as a cumulative sum of floor(ln·10⁹) step terms (exact
    * integers, same contract as the LM/entropy gauges) and lands as
    * floor'd ppm; a final day where the whole risk set churns would
    * hit ln(0), so it short-circuits to exactly 0 via a cumulative
    * flag instead. */
  val qSurvivalKm: Q = Q(
    "q_survival_km",
    (spark, dir) => {
      val span = Tables.events(spark, dir)
        .select(col("user_id"), col("ts").cast("date").as("d"))
        .groupBy(col("user_id"))
        .agg(min(col("d")).as("first_d"), max(col("d")).as("last_d"))
      val end = span.agg(max(col("last_d")).as("obs_end"))
      val obs = span.crossJoin(broadcast(end))
        .select(
          (datediff(col("obs_end"), col("last_d")) <= 0).as("censored"),
          when(datediff(col("obs_end"), col("last_d")) <= 0,
            datediff(col("obs_end"), col("first_d")))
            .otherwise(datediff(col("last_d"), col("first_d"))).as("t"))
      val hist = obs.groupBy(col("t"))
        .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d_churn"),
          sum(when(col("censored"), 1L).otherwise(0L)).as("c_cens"))
      val wdesc = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wasc = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("n_risk", sum(col("d_churn") + col("c_cens")).over(wdesc))
        .filter(col("d_churn") > 0)
        .withColumn("step_nanos",
          when(col("n_risk") > col("d_churn"),
            floor(log((col("n_risk") - col("d_churn")).cast("double")
              / col("n_risk").cast("double")) * lit(1e9)).cast("long"))
            .otherwise(lit(0L)))
        .withColumn("cum_nanos", sum(col("step_nanos")).over(wasc))
        .withColumn("dead",
          max(when(col("d_churn") === col("n_risk"), 1).otherwise(0))
            .over(wasc))
        .select(col("t").cast("long").as("day"), col("n_risk"),
          col("d_churn"), col("c_cens"),
          when(col("dead") === 1, 0L)
            .otherwise(floor(exp(col("cum_nanos").cast("double") / lit(1e9))
              * lit(1e6)).cast("long")).as("survival_ppm"))
        .orderBy(col("day"))
    },
    Some("""
      WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      span AS (
        SELECT user_id, min(d) AS first_d, max(d) AS last_d
        FROM ev GROUP BY 1),
      e2 AS (SELECT max(last_d) AS obs_end FROM span),
      obs AS (
        SELECT datediff('day', last_d, obs_end) <= 0 AS censored,
               CASE WHEN datediff('day', last_d, obs_end) <= 0
                    THEN datediff('day', first_d, obs_end)
                    ELSE datediff('day', first_d, last_d) END AS t
        FROM span, e2),
      hist AS (
        SELECT t,
               CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
                 AS d_churn,
               CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
                 AS c_cens
        FROM obs GROUP BY t),
      risk AS (
        SELECT t, d_churn, c_cens,
               CAST(sum(d_churn + c_cens) OVER (ORDER BY t DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS n_risk
        FROM hist),
      steps AS (
        SELECT t, n_risk, d_churn, c_cens,
               CASE WHEN n_risk > d_churn
                    THEN CAST(floor(ln(CAST(n_risk - d_churn AS DOUBLE)
                      / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT)
                    ELSE 0 END AS step_nanos
        FROM risk WHERE d_churn > 0),
      cum AS (
        SELECT t, n_risk, d_churn, c_cens,
               CAST(sum(step_nanos) OVER w AS BIGINT) AS cum_nanos,
               max(CASE WHEN d_churn = n_risk THEN 1 ELSE 0 END) OVER w
                 AS dead
        FROM steps
        WINDOW w AS (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT CAST(t AS BIGINT) AS day, n_risk, d_churn, c_cens,
             CASE WHEN dead = 1 THEN 0
                  ELSE CAST(floor(exp(CAST(cum_nanos AS DOUBLE) / 1e9)
                    * 1e6) AS BIGINT) END AS survival_ppm
      FROM cum ORDER BY day
    """.trim))

  /** Conditional entropy of the next event type given the current —
    * how PREDICTABLE the event stream is, the gauge that says whether
    * a sequence model has anything to learn: H(next|cur) =
    * Σᵢⱼ (nᵢⱼ/N)·ln(nᵢ/nᵢⱼ) over the transition-count table, beside
    * the unconditional H(next) and their difference (the mutual
    * information the current state carries about the next — ≥ 0 up to
    * nano flooring). One per-user lag window produces the pairs, two
    * tiny aggregates do the rest; every term is an individually
    * floored non-negative nano (ln of an exact ≥1 rational), so both
    * entropies are order-independent integer sums — the same contract
    * as the JSD/PSI gauges. */
  val qEventCondEntropy: Q = Q(
    "q_event_cond_entropy",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"),
        col("event_id"))
      val pairs = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rowm = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("ni"))
      val colm = pairs.groupBy(col("next_type")).agg(sum(col("n")).as("nj"))
      val tot = pairs.agg(sum(col("n")).as("nn"))
      val hCond = pairs.join(broadcast(rowm), "prev_type")
        .crossJoin(broadcast(tot))
        .select(floor((col("n").cast("double") / col("nn"))
          * log(col("ni").cast("double") / col("n")) * lit(1e9))
          .cast("long").as("t"))
        .agg(sum(col("t")).as("h_cond_nanos"))
      val hNext = colm.crossJoin(broadcast(tot))
        .select(floor((col("nj").cast("double") / col("nn"))
          * log(col("nn").cast("double") / col("nj")) * lit(1e9))
          .cast("long").as("t"))
        .agg(sum(col("t")).as("h_next_nanos"))
      val shape = pairs.crossJoin(broadcast(tot))
        .agg(max(col("nn")).as("n_transitions"),
          countDistinct(col("prev_type")).as("n_states"))
      shape.crossJoin(hNext).crossJoin(hCond)
        .select(col("n_transitions"), col("n_states"),
          col("h_next_nanos"), col("h_cond_nanos"),
          (col("h_next_nanos") - col("h_cond_nanos")).as("info_gain_nanos"))
    },
    Some("""
      WITH pairs AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n FROM (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
          FROM events)
        WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type),
      rowm AS (
        SELECT prev_type, CAST(sum(n) AS BIGINT) AS ni
        FROM pairs GROUP BY prev_type),
      colm AS (
        SELECT next_type, CAST(sum(n) AS BIGINT) AS nj
        FROM pairs GROUP BY next_type),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM pairs),
      hc AS (
        SELECT CAST(sum(CAST(floor((CAST(n AS DOUBLE) / nn)
            * ln(CAST(ni AS DOUBLE) / n) * 1e9) AS BIGINT)) AS BIGINT)
          AS h_cond_nanos
        FROM pairs JOIN rowm USING (prev_type), tot),
      hn AS (
        SELECT CAST(sum(CAST(floor((CAST(nj AS DOUBLE) / nn)
            * ln(CAST(nn AS DOUBLE) / nj) * 1e9) AS BIGINT)) AS BIGINT)
          AS h_next_nanos
        FROM colm, tot),
      shape AS (
        SELECT (SELECT nn FROM tot) AS n_transitions,
               count(DISTINCT prev_type) AS n_states
        FROM pairs)
      SELECT s.n_transitions, s.n_states, hn.h_next_nanos, hc.h_cond_nanos,
             hn.h_next_nanos - hc.h_cond_nanos AS info_gain_nanos
      FROM shape s, hn, hc
    """.trim))

  /** Shared two-sided OLS sum-of-squared-errors expression — the SAME
    * text is interpolated into the Spark plan and the DuckDB oracle,
    * so the doubles agree bit for bit. Inputs are exact integer
    * moment sums. */
  private def sseExpr(n: String, sx: String, sy: String, sxx: String,
                      sxy: String, syy: String): String =
    s"(($syy - CAST($sy AS DOUBLE) * $sy / $n)" +
      s" - ($sxy - CAST($sx AS DOUBLE) * $sy / $n)" +
      s" * ($sxy - CAST($sx AS DOUBLE) * $sy / $n)" +
      s" / ($sxx - CAST($sx AS DOUBLE) * $sx / $n))"

  /** Broken-stick (two-segment) regression over monthly revenue —
    * CUSUM (`q_cusum_drift`) DETECTS a shift; this FITS it: try every
    * admissible breakpoint, fit OLS on both sides from prefix/suffix
    * moment sums, keep the split minimizing total SSE, and report the
    * variance explained over the single-line fit. The candidate space
    * is the MONTH DOMAIN (~80 rows): six cumulative windows build all
    * prefix moments in one pass, suffix moments are total − prefix,
    * and each candidate's SSE is pure arithmetic — a structural-break
    * search whose cost is O(domain), not O(rows), at any corpus
    * scale. Revenue is scaled to exact kilodollar integers so the y²
    * moments stay in BIGINT; every SSE double derives from exact
    * integers through ONE shared expression text. */
  val qBrokenStick: Q = Q(
    "q_broken_stick",
    (spark, dir) => {
      val monthly = Tables.orders(spark, dir)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("idx"))
        .agg(expr("sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))"
          + " div 100000").as("y"))
      val wPre = Window.orderBy(col("idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("idx"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val m = monthly
        .withColumn("n1", count(lit(1)).over(wPre))
        .withColumn("sx1", sum(col("idx")).over(wPre))
        .withColumn("sy1", sum(col("y")).over(wPre))
        .withColumn("sxx1", sum(col("idx") * col("idx")).over(wPre))
        .withColumn("sxy1", sum(col("idx") * col("y")).over(wPre))
        .withColumn("syy1", sum(col("y") * col("y")).over(wPre))
        .withColumn("nt", count(lit(1)).over(wAll))
        .withColumn("sxt", sum(col("idx")).over(wAll))
        .withColumn("syt", sum(col("y")).over(wAll))
        .withColumn("sxxt", sum(col("idx") * col("idx")).over(wAll))
        .withColumn("sxyt", sum(col("idx") * col("y")).over(wAll))
        .withColumn("syyt", sum(col("y") * col("y")).over(wAll))
        .filter(col("n1") >= 2 && col("nt") - col("n1") >= 2)
      val sseL = sseExpr("n1", "sx1", "sy1", "sxx1", "sxy1", "syy1")
      val sseR = sseExpr("(nt - n1)", "(sxt - sx1)", "(syt - sy1)",
        "(sxxt - sxx1)", "(sxyt - sxy1)", "(syyt - syy1)")
      val sseS = sseExpr("nt", "sxt", "syt", "sxxt", "sxyt", "syyt")
      m.select(col("idx"), col("nt").as("n_months"),
          expr(s"$sseL + $sseR").as("sse_two"),
          expr(sseS).as("sse_single"),
          expr("round((n1 * cast(sxy1 as double) - cast(sx1 as double) * sy1)"
            + " / (n1 * cast(sxx1 as double) - cast(sx1 as double) * sx1), 6)")
            .as("slope_left"),
          expr("round(((nt - n1) * cast(sxyt - sxy1 as double)"
            + " - cast(sxt - sx1 as double) * (syt - sy1))"
            + " / ((nt - n1) * cast(sxxt - sxx1 as double)"
            + " - cast(sxt - sx1 as double) * (sxt - sx1)), 6)")
            .as("slope_right"))
        .orderBy(col("sse_two"), col("idx"))
        .limit(1)
        .select(col("n_months"), col("idx").as("break_idx"),
          col("slope_left"), col("slope_right"),
          round(col("sse_single"), 6).as("sse_single"),
          round(col("sse_two"), 6).as("sse_two"),
          when(col("sse_single") > 0,
            floor((lit(1.0) - col("sse_two") / col("sse_single")) * lit(1e6))
              .cast("long")).as("gain_ppm"))
    },
    Some(s"""
      WITH monthly AS (
        SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
                 + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS idx,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) // 100000 AS y
        FROM orders GROUP BY 1),
      m AS (
        SELECT idx,
               count(*) OVER wp AS n1,
               CAST(sum(idx) OVER wp AS BIGINT) AS sx1,
               CAST(sum(y) OVER wp AS BIGINT) AS sy1,
               CAST(sum(idx * idx) OVER wp AS BIGINT) AS sxx1,
               CAST(sum(idx * y) OVER wp AS BIGINT) AS sxy1,
               CAST(sum(y * y) OVER wp AS BIGINT) AS syy1,
               count(*) OVER wa AS nt,
               CAST(sum(idx) OVER wa AS BIGINT) AS sxt,
               CAST(sum(y) OVER wa AS BIGINT) AS syt,
               CAST(sum(idx * idx) OVER wa AS BIGINT) AS sxxt,
               CAST(sum(idx * y) OVER wa AS BIGINT) AS sxyt,
               CAST(sum(y * y) OVER wa AS BIGINT) AS syyt
        FROM monthly
        WINDOW wp AS (ORDER BY idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wa AS (ORDER BY idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      cand AS (
        SELECT idx, nt AS n_months,
               ${sseExpr("n1", "sx1", "sy1", "sxx1", "sxy1", "syy1")}
                 + ${sseExpr("(nt - n1)", "(sxt - sx1)", "(syt - sy1)",
                     "(sxxt - sxx1)", "(sxyt - sxy1)", "(syyt - syy1)")}
                 AS sse_two,
               ${sseExpr("nt", "sxt", "syt", "sxxt", "sxyt", "syyt")}
                 AS sse_single,
               round((n1 * CAST(sxy1 AS DOUBLE)
                   - CAST(sx1 AS DOUBLE) * sy1)
                 / (n1 * CAST(sxx1 AS DOUBLE)
                   - CAST(sx1 AS DOUBLE) * sx1), 6) AS slope_left,
               round(((nt - n1) * CAST(sxyt - sxy1 AS DOUBLE)
                   - CAST(sxt - sx1 AS DOUBLE) * (syt - sy1))
                 / ((nt - n1) * CAST(sxxt - sxx1 AS DOUBLE)
                   - CAST(sxt - sx1 AS DOUBLE) * (sxt - sx1)), 6)
                 AS slope_right
        FROM m WHERE n1 >= 2 AND nt - n1 >= 2)
      SELECT n_months, idx AS break_idx, slope_left, slope_right,
             round(sse_single, 6) AS sse_single,
             round(sse_two, 6) AS sse_two,
             CASE WHEN sse_single > 0
                  THEN CAST(floor((1.0 - sse_two / sse_single) * 1e6)
                    AS BIGINT) END AS gain_ppm
      FROM cand ORDER BY sse_two, idx LIMIT 1
    """.trim))

  /** Mann–Kendall trend TEST over monthly revenue — the significance
    * companion to the `q_theil_sen` slope estimate: S = concordant −
    * discordant pairs, Kendall tau-a in exact ppm, the tie-corrected
    * variance (18·Var kept as an exact integer: n(n−1)(2n+5) −
    * Σtᵤ(tᵤ−1)(2tᵤ+5) over tied revenue values), and the
    * continuity-corrected z = (S − sign S)/√Var as the one double at
    * the end of an all-integer pipeline (identical expression tree
    * both engines, floored to milli). |z| > 1.96 is "the trend is
    * real"; Theil–Sen then says how steep.
    *
    * Scale shape: the ONLY corpus pass is the monthly aggregate (the
    * `q_seasonal_decompose` idx/y derivation); the all-pairs
    * comparison is CALENDAR-BOUNDED — months² stays ~10⁴ no matter
    * how many orders feed each month — and runs as a broadcast
    * nested-loop on the tiny month table. */
  val qMannKendall: Q = Q(
    "q_mann_kendall",
    (spark, dir) => {
      val monthly = Tables.orders(spark, dir)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("idx"))
        .agg(expr("sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))"
          + " div 100000").as("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nM = monthly.agg(count(lit(1)).as("n_months"))
      val ties = monthly.groupBy(col("y")).agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L))
          .as("tie18"))
      val s = monthly.select(col("idx").as("ia"), col("y").as("ya"))
        .join(broadcast(monthly.select(col("idx").as("ib"), col("y").as("yb"))),
          col("ia") < col("ib"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("yb") > col("ya"), 1L)
            .when(col("yb") < col("ya"), -1L).otherwise(0L)).as("s_stat"))
      s.crossJoin(broadcast(nM)).crossJoin(broadcast(ties))
        .select(col("n_months"), col("n_pairs"), col("s_stat"),
          expr("s_stat * 1000000 div n_pairs").as("tau_ppm"),
          expr("n_months * (n_months - 1) * (2 * n_months + 5) - tie18")
            .as("var18"),
          expr("cast(floor(cast(s_stat - sign(s_stat) as double)" +
            " / sqrt(cast(var18 as double) / 18.0) * 1000) as bigint)")
            .as("z_milli"))
        .select(col("n_months"), col("n_pairs"), col("s_stat"),
          col("tau_ppm"), col("var18"), col("z_milli"))
    },
    Some("""
      WITH monthly AS (
        SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
                 + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS idx,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) // 100000 AS y
        FROM orders GROUP BY 1),
      nm AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM monthly),
      ties AS (
        SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
          AS tie18
        FROM (SELECT y, CAST(count(*) AS BIGINT) AS t
              FROM monthly GROUP BY y)),
      ag AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
                 AS s_stat
        FROM monthly a JOIN monthly b ON a.idx < b.idx)
      SELECT nm.n_months, ag.n_pairs, ag.s_stat,
             ag.s_stat * 1000000 // ag.n_pairs AS tau_ppm,
             nm.n_months * (nm.n_months - 1) * (2 * nm.n_months + 5)
               - ties.tie18 AS var18,
             CAST(floor(CAST(ag.s_stat - sign(ag.s_stat) AS DOUBLE)
               / sqrt(CAST(nm.n_months * (nm.n_months - 1)
                   * (2 * nm.n_months + 5) - ties.tie18 AS DOUBLE) / 18.0)
               * 1000) AS BIGINT) AS z_milli
      FROM nm, ag, ties
    """.trim))

  /** Classical additive seasonal decomposition of monthly revenue —
    * trend (centered 12-month moving average), month-of-year seasonal
    * indices from the detrended series, and the residual that is left
    * (the series CUSUM and the broken-stick fit both read more
    * cleanly once seasonality is out). Every window walks the
    * month-domain table: the moving sum is an exact integer over a
    * 12-row frame (emitted only where the frame is full — edge months
    * carry no fabricated trend), seasonal indices are exact integer
    * `div` means of detrended values, and residual magnitudes stay in
    * kilodollar integers throughout — no float enters the
    * decomposition at all. */
  val qSeasonalDecompose: Q = Q(
    "q_seasonal_decompose",
    (spark, dir) => {
      val monthly = Tables.orders(spark, dir)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("idx"))
        .agg(expr("sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))"
          + " div 100000").as("y"))
      val wMa = Window.orderBy(col("idx")).rowsBetween(-5, 6)
      val trended = monthly
        .withColumn("n_w", count(lit(1)).over(wMa))
        .withColumn("trend",
          when(col("n_w") === 12, expr("sum(y) over (order by idx"
            + " rows between 5 preceding and 6 following) div 12")))
        .filter(col("trend").isNotNull)
        .select(col("idx"), col("y"), col("trend"),
          (col("y") - col("trend")).as("d"),
          pmod(col("idx"), lit(12L)).as("moy"))
      val seasonal = trended.groupBy(col("moy"))
        .agg(count(lit(1)).as("n_obs"), sum(col("d")).as("sd"))
        .select(col("moy"), col("n_obs"),
          expr("sd div n_obs").as("seasonal_kd"))
      trended.join(broadcast(seasonal), "moy")
        .select(col("moy"), col("n_obs"), col("seasonal_kd"),
          abs(col("d") - col("seasonal_kd")).as("ar"))
        .groupBy(col("moy"), col("n_obs"), col("seasonal_kd"))
        .agg(expr("sum(ar) div count(1)").as("mean_abs_resid_kd"))
        .orderBy(col("moy"))
    },
    Some("""
      WITH monthly AS (
        SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
                 + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS idx,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) // 100000 AS y
        FROM orders GROUP BY 1),
      tr AS (
        SELECT idx, y,
               count(*) OVER w AS n_w,
               CAST(sum(y) OVER w AS BIGINT) // 12 AS trend
        FROM monthly
        WINDOW w AS (ORDER BY idx
          ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)),
      det AS (
        SELECT idx, y, trend, y - trend AS d, idx % 12 AS moy
        FROM tr WHERE n_w = 12),
      seas AS (
        SELECT moy, count(*) AS n_obs,
               CAST(sum(d) AS BIGINT) // count(*) AS seasonal_kd
        FROM det GROUP BY moy)
      SELECT s.moy, s.n_obs, s.seasonal_kd,
             CAST(sum(abs(d.d - s.seasonal_kd)) AS BIGINT) // count(*)
               AS mean_abs_resid_kd
      FROM det d JOIN seas s USING (moy)
      GROUP BY s.moy, s.n_obs, s.seasonal_kd
      ORDER BY s.moy
    """.trim))

  /** Autocorrelation function of monthly revenue, lags 1..12 — the
    * diagnostic that says whether yesterday predicts today (and at
    * which period the seasonality rings): r_k = Σ(yₜ−ȳ)(yₜ₊ₖ−ȳ) /
    * Σ(yₜ−ȳ)². Centering uses the exact integer mean·n trick —
    * every numerator term is (n·yₜ−S)(n·yₜ₊ₖ−S), a 128-bit exact
    * product, so the n² factors cancel in the ratio and no float
    * enters until the final division. The lag join is the month
    * table against itself shifted k — 12 lags × ~80 rows, constant
    * at any corpus scale. The ±2/√n white-noise band makes each lag
    * a significance call, not just a number. */
  val qAcf: Q = Q(
    "q_acf",
    (spark, dir) => {
      val monthly = Tables.orders(spark, dir)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("idx"))
        .agg(expr("sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))"
          + " div 100000").as("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = monthly.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
      val denom = monthly.crossJoin(broadcast(tot))
        .select((col("n") * col("y") - col("s")).as("c"))
        .agg(sum(col("c").cast("decimal(19,0)") * col("c")).as("d2"))
      val lags = monthly.select(explode(sequence(lit(1), lit(12))).as("k"),
          col("idx"), col("y"))
      monthly.select((col("idx")).as("jdx"), col("y").as("y2"))
        .join(lags, col("jdx") === col("idx") + col("k"))
        .crossJoin(broadcast(tot))
        .select(col("k"),
          ((col("n") * col("y") - col("s")).cast("decimal(19,0)")
            * (col("n") * col("y2") - col("s"))).as("num"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("num")).as("num"))
        .crossJoin(broadcast(denom))
        .crossJoin(broadcast(tot))
        .select(col("k").cast("long").as("lag"), col("n_pairs"),
          round(col("num").cast("double") / col("d2").cast("double"), 6)
            .as("acf"),
          (abs(col("num").cast("double") / col("d2").cast("double"))
            > lit(2.0) / sqrt(col("n").cast("double"))).as("significant"))
        .orderBy(col("lag"))
    },
    Some("""
      WITH monthly AS (
        SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
                 + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS idx,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) // 100000 AS y
        FROM orders GROUP BY 1),
      tot AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS s
              FROM monthly),
      den AS (
        SELECT sum(CAST(n * y - s AS HUGEINT) * (n * y - s)) AS d2
        FROM monthly, tot),
      lagged AS (
        SELECT ks.k, a.y AS y, b.y AS y2
        FROM monthly a
        JOIN (SELECT unnest(generate_series(1, 12)) AS k) ks ON true
        JOIN monthly b ON b.idx = a.idx + ks.k),
      nums AS (
        SELECT k, count(*) AS n_pairs,
               sum(CAST(t.n * y - t.s AS HUGEINT) * (t.n * y2 - t.s)) AS num
        FROM lagged, tot t GROUP BY k)
      SELECT CAST(k AS BIGINT) AS lag, n_pairs,
             round(CAST(num AS DOUBLE) / CAST(d2 AS DOUBLE), 6) AS acf,
             abs(CAST(num AS DOUBLE) / CAST(d2 AS DOUBLE))
               > 2.0 / sqrt(CAST(t2.n AS DOUBLE)) AS significant
      FROM nums, den, tot t2
      ORDER BY lag
    """.trim))

  /** Holt double-exponential smoothing (level + trend, α = β = ½) of
    * the monthly value series per event type, with the 1-3 month
    * forecasts — the trend companion to `q_event_ewma`'s level-only
    * smoother. The coupled recurrences
    * `l_t = (y_t + l_{t-1} + b_{t-1}) div 2`,
    * `b_t = (b_{t-1} + l_t − l_{t-1}) div 2` have no closed form once
    * the state is integer-floored, so the recursion RUNS — but over a
    * CALENDAR-bounded series: the months collapse to ≤ a few hundred
    * rows per type no matter the corpus size, are collected into one
    * in-row sorted array, and the recurrence executes inside a single
    * `aggregate` HOF with a (level, trend, i) struct state. Both
    * divisions truncate toward zero in both engines (verified:
    * Spark `div` and DuckDB `//` agree on negatives — a falling
    * series drives the trend negative, so this is load-bearing). The
    * oracle replays the identical recursion as a recursive CTE.
    *
    * Scale: one corpus pass (the month × type aggregate — the only
    * data-sized stage), then per-type arrays bounded by time, not
    * data. No window over the corpus, no driver loop. */
  val qHoltTrend: Q = Q(
    "q_holt_trend",
    (spark, dir) => {
      val monthly = Tables.events(spark, dir)
        .groupBy(col("event_type"),
          (year(col("ts")) * 12 + month(col("ts"))).cast("long").as("idx"))
        .agg(expr("sum(cast(floor(value * 100 + 0.5) as bigint))").as("y"))
      monthly.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("idx"), col("y"))))
          .as("ms"))
        .withColumn("st", expr("""
          aggregate(ms,
            named_struct('l', cast(0 as bigint), 'b', cast(0 as bigint),
                         'i', cast(0 as bigint)),
            (acc, x) -> CASE WHEN acc.i = 0
              THEN named_struct('l', x.y, 'b', cast(0 as bigint),
                                'i', cast(1 as bigint))
              ELSE named_struct(
                'l', (x.y + acc.l + acc.b) div 2,
                'b', (acc.b + ((x.y + acc.l + acc.b) div 2) - acc.l) div 2,
                'i', acc.i + 1) END)"""))
        .select(col("event_type"),
          size(col("ms")).cast("long").as("n_months"),
          col("st.l").as("level_cents"),
          col("st.b").as("trend_cents"),
          (col("st.l") + col("st.b")).as("f1_cents"),
          (col("st.l") + col("st.b") * 2).as("f2_cents"),
          (col("st.l") + col("st.b") * 3).as("f3_cents"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH RECURSIVE monthly AS (
        SELECT event_type,
               CAST(year(ts) * 12 + month(ts) AS BIGINT) AS idx,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS y
        FROM events GROUP BY 1, 2),
      rk AS (
        SELECT event_type, y,
               row_number() OVER (PARTITION BY event_type ORDER BY idx) AS rn
        FROM monthly),
      nn AS (SELECT event_type, max(rn) AS n FROM rk GROUP BY event_type),
      rec AS (
        SELECT event_type, rn, y AS l, CAST(0 AS BIGINT) AS b
        FROM rk WHERE rn = 1
        UNION ALL
        SELECT r.event_type, k.rn,
               (k.y + r.l + r.b) // 2,
               (r.b + ((k.y + r.l + r.b) // 2) - r.l) // 2
        FROM rec r JOIN rk k
          ON k.event_type = r.event_type AND k.rn = r.rn + 1)
      SELECT r.event_type, CAST(n.n AS BIGINT) AS n_months,
             r.l AS level_cents, r.b AS trend_cents,
             r.l + r.b AS f1_cents,
             r.l + r.b * 2 AS f2_cents,
             r.l + r.b * 3 AS f3_cents
      FROM rec r JOIN nn n USING (event_type)
      WHERE r.rn = n.n ORDER BY r.event_type
    """.trim))

  /** The split-gain expression shared by both binary-segmentation
    * levels (and both engines): splitting segment `[a, b]` at `k`
    * removes `T²/n − L²/nl − R²/nr` of within-segment SSE (the Σx²
    * term cancels in the difference, so only prefix SUMS enter).
    * Emitted as exact milli-units over the common denominator —
    * BIGINT-safe while `1000·T²·nl·nr` stays under 2⁶³ (a 30-day
    * window holds ~1.4e6 events/day before that bound bites; at
    * production scale the series is per-(source, window) partitioned
    * and each partition is this size). Alias contract: `g` = segment
    * row (level, a, b), `m` = candidate split row of the prefix
    * table, `pa`/`pb` = prefix rows at `a−1` / `b`. */
  private def binsegGainSql: String =
    """(1000 * ((m.s - pa.s) * (m.s - pa.s) * (g.b - m.i) * (g.b - g.a + 1)
        + (pb.s - m.s) * (pb.s - m.s) * (m.i - g.a + 1) * (g.b - g.a + 1)
        - (pb.s - pa.s) * (pb.s - pa.s) * (m.i - g.a + 1) * (g.b - m.i)))
       // ((m.i - g.a + 1) * (g.b - m.i) * (g.b - g.a + 1))"""

  /** One binary-segmentation level as oracle SQL: best split of each
    * segment in `seg(level, a, b)`, ties broken earliest-split. */
  private def binsegBestSql(name: String, seg: String): String = s"""
      $name AS MATERIALIZED (
        SELECT level, a, b, a_day, b_day, split_day, k, nl, nr,
               gain_milli, 1000 * l // nl AS mean_left_milli,
               1000 * r // nr AS mean_right_milli
        FROM (
          SELECT g.level, g.a, g.b, da.day AS a_day, pb.day AS b_day,
                 m.day AS split_day, m.i AS k,
                 m.i - g.a + 1 AS nl, g.b - m.i AS nr,
                 m.s - pa.s AS l, pb.s - m.s AS r,
                 $binsegGainSql AS gain_milli,
                 row_number() OVER (PARTITION BY g.a, g.b
                   ORDER BY $binsegGainSql DESC, m.i) AS rn
          FROM $seg g
          JOIN pfx m ON m.i >= g.a AND m.i < g.b
          JOIN pfxz pa ON pa.i = g.a - 1
          JOIN pfx pb ON pb.i = g.b
          JOIN pfx da ON da.i = g.a)
        WHERE rn = 1)"""

  /** Binary-segmentation changepoint detection over the daily event
    * series — the structural-break FITTER beside the drift DETECTOR:
    * CUSUM (`q_cusum_drift`) says a shift exists; this locates the
    * best split (max between-segment SSE reduction) and recurses once
    * into each half — the standard depth-2 binary segmentation, the
    * greedy front-end every changepoint pipeline (PELT et al.) starts
    * from. The corpus collapses to the DAY-DOMAIN series (30 rows) in
    * one aggregate; every candidate evaluation reads two prefix-sum
    * lookups, gains are exact integer milli-units (the Σx² terms
    * cancel in the gain, so no squares of raw values are ever
    * summed), and ties break earliest-split — both engines replay the
    * identical argmax. Output: the level-1 split plus the best split
    * of each resulting half (a half shorter than 2 days yields no
    * row). Global window + inequality joins run on the
    * construction-bounded day table only. */
  val qChangepointBinseg: Q = Q(
    "q_changepoint_binseg",
    (spark, dir) => {
      val daily = Tables.events(spark, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pfx = daily.select(col("day"),
        row_number().over(Window.orderBy(col("day"))).as("i"),
        sum(col("x")).over(w).as("s"))
      val pfxz = pfx.select(col("i"), col("s"))
        .unionByName(spark.range(1).select(lit(0).as("i"), lit(0L).as("s")))
      val nRow = daily.agg(count(lit(1)).cast("int").as("n"))

      def bestOf(segs: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val cands = segs
          .join(broadcast(pfx.select(col("i").as("k"), col("s").as("sm"),
            col("day").as("split_day"))),
            col("k") >= col("a") && col("k") < col("b"))
          .join(broadcast(pfxz.select(col("i").as("ia"), col("s").as("sa"))),
            col("ia") === col("a") - 1)
          .join(broadcast(pfx.select(col("i").as("ib"), col("s").as("sb"),
            col("day").as("b_day"))), col("ib") === col("b"))
          .join(broadcast(pfx.select(col("i").as("iaa"), col("day").as("a_day"))),
            col("iaa") === col("a"))
          .select(col("level"), col("a"), col("b"), col("a_day"), col("b_day"),
            col("split_day"), col("k"),
            (col("k") - col("a") + 1).as("nl"), (col("b") - col("k")).as("nr"),
            (col("sm") - col("sa")).as("l"), (col("sb") - col("sm")).as("r"),
            expr("""(1000 * ((sm - sa) * (sm - sa) * (b - k) * (b - a + 1)
                    + (sb - sm) * (sb - sm) * (k - a + 1) * (b - a + 1)
                    - (sb - sa) * (sb - sa) * (k - a + 1) * (b - k)))
                   div ((k - a + 1) * (b - k) * (b - a + 1))""")
              .as("gain_milli"))
        cands
          .groupBy(col("level"), col("a"), col("b"), col("a_day"), col("b_day"))
          .agg(min(struct((-col("gain_milli")).as("ng"), col("k").as("k"),
            col("split_day").as("split_day"), col("nl").as("nl"),
            col("nr").as("nr"), col("l").as("l"), col("r").as("r"))).as("m"))
          .select(col("level"), col("a"), col("b"), col("a_day"), col("b_day"),
            col("m.split_day").as("split_day"), col("m.k").as("k"),
            col("m.nl").as("nl"), col("m.nr").as("nr"),
            (-col("m.ng")).as("gain_milli"),
            expr("1000 * m.l div m.nl").as("mean_left_milli"),
            expr("1000 * m.r div m.nr").as("mean_right_milli"))
      }

      val seg1 = nRow.select(lit(1).as("level"), lit(1).as("a"), col("n").as("b"))
      val best1 = bestOf(seg1).localCheckpoint(true)
      val seg2 = best1.select(lit(2).as("level"), lit(1).as("a"), col("k").as("b"))
        .unionByName(best1.crossJoin(broadcast(nRow))
          .select(lit(2).as("level"), (col("k") + 1).as("a"), col("n").as("b")))
      val best2 = bestOf(seg2)
      best1.unionByName(best2)
        .select(col("level"), col("a_day"), col("b_day"), col("split_day"),
          col("nl").cast("long").as("n_left"), col("nr").cast("long").as("n_right"),
          col("gain_milli"), col("mean_left_milli"), col("mean_right_milli"))
        .orderBy(col("level"), col("a_day"))
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1),
      pfx AS MATERIALIZED (
        SELECT day, CAST(row_number() OVER (ORDER BY day) AS INT) AS i,
               CAST(sum(x) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS s
        FROM daily),
      pfxz AS (SELECT i, s FROM pfx UNION ALL SELECT 0, CAST(0 AS BIGINT)),
      seg1 AS (SELECT 1 AS level, 1 AS a,
                      (SELECT CAST(count(*) AS INT) FROM daily) AS b),
      ${binsegBestSql("best1", "seg1")},
      seg2 AS (SELECT 2 AS level, 1 AS a, k AS b FROM best1
               UNION ALL
               SELECT 2, k + 1, (SELECT CAST(count(*) AS INT) FROM daily)
               FROM best1),
      ${binsegBestSql("best2", "seg2")}
      SELECT level, a_day, b_day, split_day,
             CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
             gain_milli, mean_left_milli, mean_right_milli
      FROM (SELECT * FROM best1 UNION ALL SELECT * FROM best2)
      ORDER BY level, a_day
    """.trim))

  def all: Seq[Q] = Seq(qGapFill, qStreaks, qNtileFeatures, qDailyBacklog,
    qEventEwma, qMarkovStationary, qDowSeasonality, qAttribution,
    qCusumDrift, qTheilSen, qMannKendall, qSurvivalKm, qEventCondEntropy,
    qBrokenStick, qSeasonalDecompose, qAcf, qHoltTrend, qChangepointBinseg)
}
