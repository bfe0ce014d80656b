package graft
package queries

import org.apache.spark.sql.functions._
import graft.cdc.Cdc

/** Time-series analytics over the event log (`events_*`): sessions,
  * funnels, gap fill, candlesticks, sketches and the toolkit aggregates. */
object EventsQueries {
  val all: Seq[Query] = Seq(
    Query("events_sessionize", (s, dir) => {
      Cdc.sessionize(Cdc.walEvents(s, dir))
        .orderBy(col("user_id"), col("sess_no"))
    },
      s"""SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no, COUNT(*) AS n_events,
         |  MIN(ts_ms) AS sess_start_ms, MAX(ts_ms) AS sess_end_ms
         |FROM (
         |  SELECT user_id, ts_ms,
         |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, lsn
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
         |  FROM (
         |    SELECT user_id, event_id AS lsn, epoch_ns(ts) // 1000000 AS ts_ms,
         |      CASE WHEN lag(epoch_ns(ts) // 1000000, 1) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000, event_id) IS NULL
         |             OR epoch_ns(ts) // 1000000 - lag(epoch_ns(ts) // 1000000, 1) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000, event_id) > 3600000
         |           THEN 1 ELSE 0 END AS new_sess
         |    FROM events) a) b
         |GROUP BY user_id, sess_no
         |ORDER BY user_id, sess_no""".stripMargin),

    Query("events_funnel", (s, dir) =>
      // strict-order view→click→purchase funnel, converting within 7
      // days of entry; greedy earliest-chain per user, nulls where the
      // funnel stalls. Timestamps are floored to MICROS first: DuckDB
      // truncates TIMESTAMP_NS to micro precision on read, so the
      // engines must compare the same integers (the sub-micro tail
      // would flip strict-order comparisons between them)
      ops.EventAnalytics.funnel(
          Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000")),
          steps = Seq("view", "click", "purchase"),
          windowNs = 604800L * 1000000L, tsCol = "ts_us")
        .orderBy(col("user_id")),
      // funnel twin: identical greedy join-chain (min step-1, earliest
      // next-step after the previous inside the entry window), on MICROS
      // (epoch_ns // 1000 ≡ Spark's ts div 1000 — DuckDB truncates
      // TIMESTAMP_NS to micro precision, so micros is the shared grid)
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tsn, event_type FROM events),
        |s1 AS (SELECT user_id, min(tsn) AS ts_1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, max(s1.ts_1) AS ts_1, min(e.tsn) AS ts_2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |         AND e.event_type = 'click'
        |         AND e.tsn > s1.ts_1 AND e.tsn <= s1.ts_1 + 604800000000
        |       GROUP BY s1.user_id),
        |s3 AS (SELECT s2.user_id, max(ts_1) AS ts_1, max(ts_2) AS ts_2,
        |         min(e.tsn) AS ts_3
        |       FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |         AND e.event_type = 'purchase'
        |         AND e.tsn > s2.ts_2 AND e.tsn <= s2.ts_1 + 604800000000
        |       GROUP BY s2.user_id)
        |SELECT user_id, ts_1, ts_2, ts_3,
        |  CAST(1 + CASE WHEN ts_2 IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN ts_3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS steps_completed
        |FROM s3 ORDER BY user_id""".stripMargin),

    Query("events_retention", (s, dir) =>
      // weekly cohort-retention triangle: users bucketed by first-seen
      // week, distinct-active counts per (cohort, weeks-since) cell
      ops.EventAnalytics.cohortRetention(Tables.events(s, dir),
          periodNs = 604800L * 1000000000L)
        .orderBy(col("cohort_period"), col("period_offset")),
      // retention twin: integer week buckets over epoch nanos
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS period FROM events),
        |f AS (SELECT user_id, min(period) AS cohort_period FROM e GROUP BY user_id)
        |SELECT f.cohort_period, e.period - f.cohort_period AS period_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("events_time_bucket", (s, dir) =>
      // TimescaleDB first()/last() per day bucket — deterministic via
      // the combined ts·10⁶+lsn order key, one partial-agg shuffle
      ops.EventAnalytics.timeBucketFirstLast(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("chunk_day")),
      // time-bucket twin: arg_min/arg_max on the identical combined key
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type, value,
        |    epoch_ns(ts) // 1000000 AS ts_ms,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day
        |  FROM events)
        |SELECT event_type, chunk_day,
        |  arg_min(value, ts_ms * 1000000 + lsn) AS first_value,
        |  arg_max(value, ts_ms * 1000000 + lsn) AS last_value,
        |  min(value) AS min_value, max(value) AS max_value, COUNT(*) AS n
        |FROM wal GROUP BY 1, 2 ORDER BY event_type, chunk_day""".stripMargin),

    Query("events_gapfill_locf", (s, dir) =>
      // time_bucket_gapfill + locf: dense per-type daily grid, absent
      // buckets n=0 with last observed value carried forward
      ops.EventAnalytics.gapfillLocf(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("chunk_day")),
      // gapfill twin: dense generate_series grid + IGNORE NULLS window
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type, value,
        |    epoch_ns(ts) // 1000000 AS ts_ms,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day
        |  FROM events),
        |daily AS (SELECT event_type, chunk_day,
        |    arg_max(value, ts_ms * 1000000 + lsn) AS day_last, COUNT(*) AS n
        |  FROM wal GROUP BY 1, 2),
        |r AS (SELECT min(chunk_day) AS lo, max(chunk_day) AS hi FROM wal),
        |grid AS (SELECT t.event_type, g.d AS chunk_day
        |  FROM (SELECT DISTINCT event_type FROM wal) t
        |  CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM r),
        |                                            (SELECT hi FROM r))) AS d) g),
        |filled AS (SELECT g.event_type, g.chunk_day,
        |    COALESCE(d.n, 0) AS n, d.day_last
        |  FROM grid g LEFT JOIN daily d USING (event_type, chunk_day))
        |SELECT event_type, chunk_day, n,
        |  last_value(day_last IGNORE NULLS) OVER (PARTITION BY event_type
        |    ORDER BY chunk_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value_locf
        |FROM filled ORDER BY event_type, chunk_day""".stripMargin),

    Query("events_gapfill_interp", (s, dir) =>
      // gapfill → interpolate(): a deterministic outage mask (every
      // third (day+typelen) slot dropped) creates REAL gaps, so the
      // linear branch is exercised, not just the observed-day passthrough
      ops.EventAnalytics.gapfillInterpolate(
          Cdc.walEvents(s, dir)
            .filter(expr("(chunk_day + length(event_type)) % 3 != 0")))
        .orderBy(col("event_type"), col("chunk_day")),
      // interpolate twin: same masked wal, same grid, anchors via
      // IGNORE-NULLS windows; the linear blend is the TEXTUALLY identical
      // double expression (fixed IEEE order), rounded half-up to milli
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type, value,
        |    epoch_ns(ts) // 1000000 AS ts_ms,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day
        |  FROM events
        |  WHERE (epoch_ns(ts) // 86400000000000 - 19723 + length(event_type)) % 3 != 0),
        |daily AS (SELECT event_type, chunk_day,
        |    arg_max(CAST(floor(value * 1000 + 0.5) AS BIGINT),
        |            ts_ms * 1000000 + lsn) AS day_last_milli,
        |    COUNT(*) AS n
        |  FROM wal GROUP BY 1, 2),
        |r AS (SELECT min(chunk_day) AS lo, max(chunk_day) AS hi FROM wal),
        |grid AS (SELECT t.event_type, g.d AS chunk_day
        |  FROM (SELECT DISTINCT event_type FROM wal) t
        |  CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM r),
        |                                            (SELECT hi FROM r))) AS d) g),
        |filled AS (SELECT g.event_type, g.chunk_day,
        |    COALESCE(d.n, 0) AS n, d.day_last_milli
        |  FROM grid g LEFT JOIN daily d USING (event_type, chunk_day)),
        |anch AS (SELECT *,
        |  last_value(day_last_milli IGNORE NULLS) OVER wprev AS v_prev,
        |  last_value(CASE WHEN day_last_milli IS NOT NULL THEN chunk_day END
        |             IGNORE NULLS) OVER wprev AS d_prev,
        |  first_value(day_last_milli IGNORE NULLS) OVER wnext AS v_next,
        |  first_value(CASE WHEN day_last_milli IS NOT NULL THEN chunk_day END
        |              IGNORE NULLS) OVER wnext AS d_next
        |  FROM filled
        |  WINDOW wprev AS (PARTITION BY event_type ORDER BY chunk_day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wnext AS (PARTITION BY event_type ORDER BY chunk_day
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, chunk_day, n,
        |  CASE
        |    WHEN day_last_milli IS NOT NULL THEN day_last_milli
        |    WHEN v_prev IS NOT NULL AND v_next IS NOT NULL THEN
        |      CAST(FLOOR(CAST(v_prev AS DOUBLE)
        |        + (CAST(v_next AS DOUBLE) - CAST(v_prev AS DOUBLE))
        |          * (CAST(chunk_day - d_prev AS DOUBLE)
        |             / CAST(d_next - d_prev AS DOUBLE)) + 0.5) AS BIGINT)
        |    ELSE NULL END AS value_interp_milli
        |FROM anch ORDER BY event_type, chunk_day""".stripMargin),

    Query("events_candlestick", (s, dir) =>
      // candlestick_agg: OHLC + volume + integer VWAP per (type, day),
      // open/close by the ts·10⁶+lsn order, mergeable accumulators
      ops.EventAnalytics.candlestick(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("chunk_day")),
      // candlestick twin: same cents/volume integerization, arg_min/arg_max
      // on the combined order, floor (//) division matches Spark's div on
      // the all-positive notional
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type,
        |    epoch_ns(ts) // 1000000 AS ts_ms,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS vol
        |  FROM events)
        |SELECT event_type, chunk_day,
        |  arg_min(cents, ts_ms * 1000000 + lsn) AS open_cents,
        |  arg_max(cents, ts_ms * 1000000 + lsn) AS close_cents,
        |  max(cents) AS high_cents, min(cents) AS low_cents,
        |  min(ts_ms * 1000000 + lsn) AS open_ord,
        |  max(ts_ms * 1000000 + lsn) AS close_ord,
        |  COUNT(*) AS n_ticks,
        |  CAST(sum(vol) AS BIGINT) AS volume,
        |  CAST(sum(cents * vol) AS BIGINT) AS notional_cents,
        |  CAST(sum(cents * vol) AS BIGINT) * 10000
        |    // nullif(CAST(sum(vol) AS BIGINT), 0) AS vwap_micro
        |FROM wal GROUP BY 1, 2 ORDER BY event_type, chunk_day""".stripMargin),

    Query("events_heartbeat", (s, dir) =>
      // heartbeat_agg: 12h-TTL liveness merge per user — uptime,
      // live-range count, longest dead gap, downtime
      ops.EventAnalytics.heartbeatAgg(Cdc.walEvents(s, dir), ttlMs = 43200000L)
        .orderBy(col("user_id")),
      // heartbeat twin: lead-gap per user on the same order key; the
      // final (null-gap) beat is excluded from the sum and contributes
      // its TTL via the constant term, exactly as the Spark side does
      """WITH wal AS (
        |  SELECT event_id AS lsn, user_id,
        |    epoch_ns(ts) // 1000000 AS ts_ms
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts_ms,
        |    lead(ts_ms) OVER (PARTITION BY user_id
        |      ORDER BY ts_ms * 1000000 + lsn) - ts_ms AS gap
        |  FROM wal)
        |SELECT user_id,
        |  COUNT(*) AS n_beats,
        |  min(ts_ms) AS first_seen_ms,
        |  max(ts_ms) AS last_seen_ms,
        |  CAST(coalesce(sum(CASE WHEN gap IS NOT NULL
        |      THEN least(gap, 43200000) END), 0) + 43200000 AS BIGINT)
        |    AS uptime_ms,
        |  CAST(sum(CASE WHEN gap > 43200000 THEN 1 ELSE 0 END) + 1 AS BIGINT)
        |    AS num_live_ranges,
        |  max(CASE WHEN gap > 43200000 THEN gap END) AS longest_gap_ms,
        |  max(ts_ms) - min(ts_ms) + 43200000
        |    - CAST(coalesce(sum(CASE WHEN gap IS NOT NULL
        |        THEN least(gap, 43200000) END), 0) + 43200000 AS BIGINT)
        |    AS downtime_ms
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),

    Query("events_time_weighted_interp", (s, dir) =>
      // interpolated_average: LOCF holds carry across day boundaries,
      // each day charged for its exact overlap with every hold span
      ops.EventAnalytics.timeWeightedInterpolated(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("chunk_day")),
      // interpolated time-weight twin: per-type lead spans, inclusive
      // generate_series over spanned days, clip to each day; both engines
      // do the identical integer ms arithmetic
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type,
        |    epoch_ns(ts) // 1000000 AS ts_ms,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_milli
        |  FROM events),
        |sp AS (
        |  SELECT event_type, v_milli, ts_ms,
        |    lead(ts_ms) OVER (PARTITION BY event_type
        |      ORDER BY ts_ms * 1000000 + lsn) AS next_ts
        |  FROM wal),
        |seg AS (
        |  SELECT event_type, v_milli, ts_ms, next_ts,
        |    unnest(generate_series(ts_ms // 86400000,
        |                           (next_ts - 1) // 86400000)) AS day
        |  FROM sp WHERE next_ts IS NOT NULL AND next_ts > ts_ms)
        |SELECT event_type,
        |  CAST(day - 19723 AS INTEGER) AS chunk_day,
        |  CAST(sum(v_milli * (least(next_ts, (day + 1) * 86400000)
        |        - greatest(ts_ms, day * 86400000))) AS BIGINT)
        |    AS weighted_milli_ms,
        |  CAST(sum(least(next_ts, (day + 1) * 86400000)
        |        - greatest(ts_ms, day * 86400000)) AS BIGINT) AS covered_ms,
        |  COUNT(*) AS n_segs,
        |  CAST(sum(v_milli * (least(next_ts, (day + 1) * 86400000)
        |        - greatest(ts_ms, day * 86400000))) AS BIGINT) * 1000
        |    // nullif(CAST(sum(least(next_ts, (day + 1) * 86400000)
        |        - greatest(ts_ms, day * 86400000)) AS BIGINT), 0) AS twa_micro
        |FROM seg GROUP BY 1, 2 ORDER BY event_type, chunk_day""".stripMargin),

    Query("events_hdr_quantiles", (s, dir) =>
      // approx_percentile on engine-exact parts: log2 (HDR) bucket
      // sketch, mergeable by addition, integer in-bucket interpolation
      ops.EventAnalytics.hdrQuantiles(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("p")),
      // HDR-quantile twin: msb via binary-string length (integer-exact in
      // both engines), running window cum, first qualifying bucket, the
      // identical integer interpolation
      """WITH wal AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) + 1 AS shifted
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    CAST(length(printf('%b', shifted)) - 1 AS INTEGER) AS bucket,
        |    COUNT(*) AS cnt
        |  FROM wal GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, bucket, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type
        |      ORDER BY bucket) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS total
        |  FROM b),
        |x AS (
        |  SELECT c.*, p FROM c
        |  CROSS JOIN (SELECT unnest([50, 90, 99]) AS p) ps
        |  WHERE cum >= (total * p + 99) // 100)
        |SELECT event_type, p, total AS n, bucket,
        |  (1::BIGINT << bucket)
        |    + ((((total * p + 99) // 100) - cum + cnt)
        |       * (1::BIGINT << bucket)) // cnt
        |    - 1 AS approx_cents
        |FROM x
        |QUALIFY row_number() OVER (PARTITION BY event_type, p
        |  ORDER BY bucket) = 1
        |ORDER BY event_type, p""".stripMargin),

    Query("events_attribution", (s, dir) =>
      // purchase→view attribution: the stream-stream interval join's
      // batch twin (one code path — withWatermark is a no-op in batch)
      graft.streaming.StreamPipeline.streamStreamAttribution(Cdc.walEvents(s, dir))
        .orderBy(col("purchase_lsn"), col("view_lsn")),
      // attribution twin: plain interval self-join on the ms integers
      """WITH wal AS (SELECT event_id AS lsn, user_id, event_type,
        |    epoch_ns(ts) // 1000000 AS ts_ms FROM events),
        |v AS (SELECT user_id AS v_user, lsn AS view_lsn, ts_ms AS view_ms
        |      FROM wal WHERE event_type = 'view'),
        |p AS (SELECT user_id, lsn AS purchase_lsn, ts_ms AS purchase_ms
        |      FROM wal WHERE event_type = 'purchase')
        |SELECT p.user_id, purchase_lsn, view_lsn, purchase_ms, view_ms
        |FROM p JOIN v ON v.v_user = p.user_id
        |  AND view_ms <= purchase_ms AND view_ms >= purchase_ms - 3600000
        |ORDER BY purchase_lsn, view_lsn""".stripMargin),

    Query("events_time_weighted", (s, dir) =>
      // time_weight('LOCF') per (type, day): exact integer numerator +
      // observed span — division left to the caller (float ratios are
      // not engine-exact)
      ops.EventAnalytics.timeWeighted(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("chunk_day")),
      // time-weight twin: identical lead() integral in integer units
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_milli,
        |    epoch_ns(ts) // 1000000 AS ts_ms,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day
        |  FROM events),
        |led AS (SELECT *, lead(ts_ms, 1) OVER (
        |    PARTITION BY event_type, chunk_day
        |    ORDER BY ts_ms * 1000000 + lsn) AS next_ts FROM wal)
        |SELECT event_type, chunk_day,
        |  CAST(SUM(CASE WHEN next_ts IS NOT NULL
        |       THEN v_milli * (next_ts - ts_ms) ELSE 0 END) AS BIGINT)
        |    AS weighted_milli_ms,
        |  max(ts_ms) - min(ts_ms) AS span_ms, COUNT(*) AS n
        |FROM led GROUP BY 1, 2 ORDER BY event_type, chunk_day""".stripMargin),

    Query("events_seasonality", (s, dir) =>
      // dow×hour activity matrix, Thursday-anchored integer epoch math
      ops.EventAnalytics.seasonality(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("dow"), col("hour")),
      // seasonality twin: same Thursday-anchored integer epoch math
      """SELECT event_type,
        |  (epoch_ns(ts) // 1000000 // 86400000 + 4) % 7 AS dow,
        |  (epoch_ns(ts) // 1000000 // 3600000) % 24 AS hour,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_micros
        |FROM events GROUP BY 1, 2, 3 ORDER BY event_type, dow, hour""".stripMargin),

    Query("events_stats_agg", (s, dir) =>
      // stats_agg hyperfunction analog: the exact integer regression
      // accumulator (mergeable by addition — the rollup() contract) +
      // fixed-op-order double accessors scaled to integers
      ops.EventAnalytics.statsAgg(Cdc.walEvents(s, dir))
        .orderBy(col("event_type")),
      // stats_agg twin: identical integer sums; accessors share the exact
      // double operation order (IEEE ops on equal inputs are bit-equal)
      """WITH wal AS (
        |  SELECT event_type,
        |    (epoch_ns(ts) // 1000000 - (SELECT min(epoch_ns(ts) // 1000000) FROM events)) // 60000 AS x,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |acc AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
        |    CAST(SUM(x * y) AS BIGINT) AS sum_xy,
        |    CAST(SUM(x * x) AS BIGINT) AS sum_x2,
        |    CAST(SUM(y * y) AS BIGINT) AS sum_y2
        |  FROM wal GROUP BY event_type),
        |sl AS (SELECT *,
        |    CASE WHEN CAST(n AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
        |              - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE) = 0.0 THEN 0
        |         ELSE CAST(FLOOR(
        |           (CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE)
        |              - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
        |           / (CAST(n AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
        |              - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
        |           * 1000000.0 + 0.5) AS BIGINT) END AS slope_micro
        |  FROM acc)
        |SELECT event_type, n, sum_x, sum_y, sum_xy, sum_x2, sum_y2, slope_micro,
        |  CASE WHEN n = 0 THEN 0
        |       ELSE CAST(FLOOR(
        |         (CAST(sum_y AS DOUBLE) - CAST(slope_micro AS DOUBLE) / 1000000.0
        |            * CAST(sum_x AS DOUBLE)) / CAST(n AS DOUBLE) + 0.5) AS BIGINT) END
        |    AS intercept_milli
        |FROM sl ORDER BY event_type""".stripMargin),

    Query("events_stats_rollup", (s, dir) =>
      // the rollup() contract live: fine (type, day) accumulators — the
      // granularity a cagg would materialize — whose sums re-aggregate
      // exactly to any coarser slice (spec-proven ≡ the direct fit)
      ops.EventAnalytics.statsAgg(Cdc.walEvents(s, dir),
          Seq("event_type", "chunk_day"))
        .select(col("event_type"), col("chunk_day"), col("n"), col("sum_x"),
          col("sum_y"), col("sum_xy"), col("sum_x2"), col("sum_y2"))
        .orderBy(col("event_type"), col("chunk_day")),
      """WITH wal AS (
        |  SELECT event_type,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day,
        |    (epoch_ns(ts) // 1000000 - (SELECT min(epoch_ns(ts) // 1000000) FROM events)) // 60000 AS x,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS y
        |  FROM events)
        |SELECT event_type, chunk_day, COUNT(*) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
        |  CAST(SUM(x * y) AS BIGINT) AS sum_xy,
        |  CAST(SUM(x * x) AS BIGINT) AS sum_x2,
        |  CAST(SUM(y * y) AS BIGINT) AS sum_y2
        |FROM wal GROUP BY 1, 2 ORDER BY event_type, chunk_day""".stripMargin),

    Query("events_state_agg", (s, dir) =>
      // state_agg hyperfunction analog: per-state LOCF dwell time over
      // each user's event sequence; open last intervals counted apart
      ops.EventAnalytics.stateAgg(Cdc.walEvents(s, dir))
        .orderBy(col("event_type")),
      // state_agg twin: lead() over the same (ts,lsn) order per user
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type, user_id,
        |    epoch_ns(ts) // 1000000 AS ts_ms FROM events),
        |led AS (SELECT *,
        |    lead(ts_ms, 1) OVER (PARTITION BY user_id ORDER BY ts_ms * 1000000 + lsn) AS next_ts,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_ms * 1000000 + lsn) AS next_type
        |  FROM wal)
        |SELECT event_type,
        |  CAST(SUM(CASE WHEN next_ts IS NOT NULL THEN next_ts - ts_ms ELSE 0 END) AS BIGINT) AS total_ms,
        |  CAST(SUM(CASE WHEN next_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_intervals,
        |  CAST(SUM(CASE WHEN next_type IS NOT NULL AND next_type <> event_type THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_transitions_out,
        |  CAST(SUM(CASE WHEN next_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open
        |FROM led GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("events_state_timeline", (s, dir) =>
      // state_timeline accessor: run-length encoded state periods per
      // user, [start, end) against the next period's start
      ops.EventAnalytics.stateTimeline(Cdc.walEvents(s, dir))
        .orderBy(col("user_id"), col("period")),
      // state_timeline twin: identical change-flag running sum and
      // period-level lead, the same [start, next-start) end convention
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type, user_id,
        |    epoch_ns(ts) // 1000000 AS ts_ms FROM events),
        |flg AS (SELECT *,
        |    CASE WHEN lag(event_type, 1) OVER w IS NULL
        |           OR lag(event_type, 1) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM wal
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms * 1000000 + lsn)),
        |per AS (SELECT *,
        |    CAST(SUM(chg) OVER (PARTITION BY user_id
        |      ORDER BY ts_ms * 1000000 + lsn) AS BIGINT) AS period
        |  FROM flg),
        |agg AS (SELECT user_id, period, event_type AS state,
        |    min(ts_ms) AS start_ms, max(ts_ms) AS last_ms,
        |    COUNT(*) AS n_events
        |  FROM per GROUP BY 1, 2, 3)
        |SELECT user_id, period, state, start_ms,
        |  coalesce(lead(start_ms, 1) OVER (PARTITION BY user_id ORDER BY period),
        |           last_ms) AS end_ms,
        |  coalesce(lead(start_ms, 1) OVER (PARTITION BY user_id ORDER BY period),
        |           last_ms) - start_ms AS duration_ms,
        |  n_events
        |FROM agg ORDER BY user_id, period""".stripMargin),

    Query("events_candlestick_weekly", (s, dir) =>
      // rollup(candlestick_agg): weekly candles merged FROM the daily
      // candle rows (never from raw ticks) — the oracle computes the
      // week from scratch, so a hash match proves the rollup contract
      ops.EventAnalytics.candlestickRollup(
          ops.EventAnalytics.candlestick(Cdc.walEvents(s, dir)))
        .orderBy(col("event_type"), col("chunk_week")),
      // candlestick-rollup twin: the WEEK computed from scratch off raw
      // ticks — hash equality against the Spark side's daily-merge is
      // exactly the rollup() mergeable-state contract
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type,
        |    epoch_ns(ts) // 1000000 AS ts_ms,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS vol
        |  FROM events)
        |SELECT event_type, chunk_day // 7 AS chunk_week,
        |  arg_min(cents, ts_ms * 1000000 + lsn) AS open_cents,
        |  arg_max(cents, ts_ms * 1000000 + lsn) AS close_cents,
        |  max(cents) AS high_cents, min(cents) AS low_cents,
        |  min(ts_ms * 1000000 + lsn) AS open_ord,
        |  max(ts_ms * 1000000 + lsn) AS close_ord,
        |  COUNT(*) AS n_ticks,
        |  CAST(sum(vol) AS BIGINT) AS volume,
        |  CAST(sum(cents * vol) AS BIGINT) AS notional_cents,
        |  CAST(sum(cents * vol) AS BIGINT) * 10000
        |    // nullif(CAST(sum(vol) AS BIGINT), 0) AS vwap_micro
        |FROM wal GROUP BY 1, 2 ORDER BY event_type, chunk_week""".stripMargin),

    Query("events_duration_in_interp", (s, dir) =>
      // interpolated_duration_in accessor: per-(state, day) dwell time
      // with per-user LOCF holds carrying across day boundaries
      ops.EventAnalytics.interpolatedDurationIn(Cdc.walEvents(s, dir))
        .orderBy(col("state"), col("chunk_day")),
      // interpolated_duration_in twin: per-USER lead holds, the same
      // day-clip arithmetic as the time_weighted_interp twin, aggregated
      // per (state, day)
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type, user_id,
        |    epoch_ns(ts) // 1000000 AS ts_ms FROM events),
        |sp AS (
        |  SELECT event_type, ts_ms,
        |    lead(ts_ms) OVER (PARTITION BY user_id
        |      ORDER BY ts_ms * 1000000 + lsn) AS next_ts
        |  FROM wal),
        |seg AS (
        |  SELECT event_type, ts_ms, next_ts,
        |    unnest(generate_series(ts_ms // 86400000,
        |                           (next_ts - 1) // 86400000)) AS day
        |  FROM sp WHERE next_ts IS NOT NULL AND next_ts > ts_ms)
        |SELECT event_type AS state,
        |  CAST(day - 19723 AS INTEGER) AS chunk_day,
        |  CAST(sum(least(next_ts, (day + 1) * 86400000)
        |        - greatest(ts_ms, day * 86400000)) AS BIGINT) AS duration_ms,
        |  COUNT(*) AS n_segments
        |FROM seg GROUP BY 1, 2 ORDER BY state, chunk_day""".stripMargin),

    Query("events_lttb", (s, dir) =>
      // lttb hyperfunction analog (bucket-centroid parallel form):
      // integer-exact scaled-area argmax, one window shuffle, no
      // sequential dependency — see EventAnalytics.lttbDownsample
      ops.EventAnalytics.lttbDownsample(Cdc.walEvents(s, dir), nBuckets = 40)
        .orderBy(col("event_type"), col("bucket")),
      // lttb twin: same centroid anchors, same scaled integer area argmax
      """WITH pts AS (
        |  SELECT event_type, event_id AS lsn, epoch_ns(ts) // 1000000 AS ts_ms,
        |    (epoch_ns(ts) // 1000000 - (SELECT min(epoch_ns(ts) // 1000000) FROM events)) // 60000 AS x,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |bkt AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts_ms, lsn) AS rn,
        |    ((row_number() OVER (PARTITION BY event_type ORDER BY ts_ms, lsn) - 1) * 40)
        |      // (count(*) OVER (PARTITION BY event_type)) AS bucket
        |  FROM pts),
        |cen AS (SELECT event_type, bucket, CAST(SUM(x) AS BIGINT) AS cx,
        |    CAST(SUM(y) AS BIGINT) AS cy, COUNT(*) AS cn
        |  FROM bkt GROUP BY 1, 2),
        |ends AS (SELECT event_type,
        |    min_by(x, rn) AS fx, min_by(y, rn) AS fy,
        |    max_by(x, rn) AS lx, max_by(y, rn) AS ly
        |  FROM bkt GROUP BY event_type),
        |anch AS (SELECT c.event_type, c.bucket,
        |    coalesce(lag(cx) OVER wob, fx) AS px, coalesce(lag(cy) OVER wob, fy) AS py,
        |    coalesce(lag(cn) OVER wob, 1) AS pn,
        |    coalesce(lead(cx) OVER wob, lx) AS nx, coalesce(lead(cy) OVER wob, ly) AS ny,
        |    coalesce(lead(cn) OVER wob, 1) AS nn
        |  FROM cen c JOIN ends e ON c.event_type = e.event_type
        |  WINDOW wob AS (PARTITION BY c.event_type ORDER BY c.bucket)),
        |scored AS (SELECT b.event_type, b.bucket, b.ts_ms, b.lsn, b.y,
        |    abs((px - b.x * pn) * (ny - b.y * nn) - (nx - b.x * nn) * (py - b.y * pn)) AS area2
        |  FROM bkt b JOIN anch a ON b.event_type = a.event_type AND b.bucket = a.bucket)
        |SELECT event_type, bucket, ts_ms, lsn, y AS v_centi FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY event_type, bucket ORDER BY area2 DESC, ts_ms, lsn) AS rn
        |  FROM scored) z
        |WHERE rn = 1 ORDER BY event_type, bucket""".stripMargin),

    Query("events_change_point", (s, dir) =>
      // mean-shift CUSUM per type in exact integers: the scaled
      // deviation n·cᵢ − i·S needs no rational mean; peak position =
      // candidate change point (earliest lsn on ties)
      ops.EventAnalytics.cusumChangePoint(Cdc.walEvents(s, dir))
        .orderBy(col("event_type")),
      // cusum twin: identical scaled-deviation argmax
      """WITH wal AS (SELECT event_id AS lsn, event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm FROM events),
        |pref AS (SELECT *,
        |    CAST(SUM(vm) OVER (PARTITION BY event_type ORDER BY lsn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY lsn) AS BIGINT) AS i
        |  FROM wal),
        |tot AS (SELECT event_type, CAST(SUM(vm) AS BIGINT) AS s, COUNT(*) AS n
        |        FROM wal GROUP BY 1),
        |dev AS (SELECT p.event_type, p.lsn,
        |    abs(t.n * p.c - p.i * t.s) AS dev, t.n, t.s
        |  FROM pref p JOIN tot t USING (event_type)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY dev DESC, lsn ASC) AS rn FROM dev)
        |SELECT event_type, lsn AS change_lsn, CAST(dev AS BIGINT) AS max_dev,
        |  n, s AS sum_milli
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin),

    Query("events_histogram", (s, dir) =>
      // histogram() hyperfunction: 10 equal-width micro-value buckets
      // per type + under/overflow, integer bucket arithmetic
      ops.EventAnalytics.valueHistogram(Cdc.walEvents(s, dir),
          loMicros = 100000000L, hiMicros = 900000000L, nBuckets = 10)
        .orderBy(col("event_type"), col("bucket")),
      // histogram twin: identical integer bucket CASE
      """SELECT event_type,
        |  CAST(CASE WHEN vm < 100000000 THEN -1
        |       WHEN vm >= 900000000 THEN 10
        |       ELSE (vm - 100000000) * 10 // 800000000 END AS INT) AS bucket,
        |  COUNT(*) AS n
        |FROM (SELECT event_type,
        |        CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm FROM events) z
        |GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin),

    Query("events_instant_rate", (s, dir) =>
      // gauge idelta + counter irate from the final sample pair per
      // series — both conventions from one window pass
      ops.EventAnalytics.instantRate(Cdc.walEvents(s, dir))
        .orderBy(col("event_type")),
      // instant-rate twin: QUALIFY row_number()=1 picks the same final
      // pair; the division is the identical fixed-order double expression
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_milli,
        |    epoch_ns(ts) // 1000000 AS ts_ms
        |  FROM events),
        |lagged AS (SELECT *,
        |    lag(v_milli, 1) OVER w AS prev_v, lag(ts_ms, 1) OVER w AS prev_ts
        |  FROM wal WINDOW w AS (PARTITION BY event_type
        |    ORDER BY ts_ms * 1000000 + lsn)),
        |lastpair AS (SELECT * FROM lagged WHERE prev_ts IS NOT NULL
        |  QUALIFY row_number() OVER (PARTITION BY event_type
        |    ORDER BY ts_ms * 1000000 + lsn DESC) = 1),
        |d AS (SELECT event_type,
        |    v_milli - prev_v AS idelta_milli,
        |    ts_ms - prev_ts AS dt_ms,
        |    CASE WHEN v_milli >= prev_v THEN v_milli - prev_v
        |         ELSE v_milli END AS counter_idelta_milli
        |  FROM lastpair)
        |SELECT event_type, idelta_milli, dt_ms, counter_idelta_milli,
        |  CASE WHEN dt_ms > 0 THEN
        |    CAST(FLOOR(CAST(idelta_milli AS DOUBLE) / CAST(dt_ms AS DOUBLE)
        |               * 1000000.0 + 0.5) AS BIGINT)
        |  ELSE NULL END AS irate_micro,
        |  CASE WHEN dt_ms > 0 THEN
        |    CAST(FLOOR(CAST(counter_idelta_milli AS DOUBLE) / CAST(dt_ms AS DOUBLE)
        |               * 1000000.0 + 0.5) AS BIGINT)
        |  ELSE NULL END AS counter_irate_micro
        |FROM d ORDER BY event_type""".stripMargin),

    Query("events_counter_increase", (s, dir) =>
      // Prometheus-convention extrapolated increase per (type, day):
      // exact integer accumulator, fixed-order double extrapolation
      ops.EventAnalytics.counterIncreaseExtrapolated(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("chunk_day")),
      // extrapolation twin: the integer accumulator CTEs mirror the Spark
      // agg exactly; the double ladder is TEXTUALLY the same expressions
      // in the same order, so both engines execute the identical IEEE
      // sequence before the micro floor
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type,
        |    CAST(epoch_ns(ts) // 86400000000000 - 19723 AS INT) AS chunk_day,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_milli,
        |    epoch_ns(ts) // 1000000 AS ts_ms
        |  FROM events),
        |lagged AS (SELECT *, lag(v_milli, 1) OVER (
        |    PARTITION BY event_type, chunk_day
        |    ORDER BY ts_ms * 1000000 + lsn) AS prev FROM wal),
        |agg AS (SELECT event_type, chunk_day,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN prev IS NOT NULL AND v_milli < prev THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_resets,
        |  CAST(SUM(CASE WHEN prev IS NULL THEN 0
        |       WHEN v_milli >= prev THEN v_milli - prev
        |       ELSE v_milli END) AS BIGINT) AS delta_milli,
        |  MIN(ts_ms) AS first_ts, MAX(ts_ms) AS last_ts,
        |  arg_min(v_milli, ts_ms * 1000000 + lsn) AS v_first
        |  FROM lagged GROUP BY event_type, chunk_day),
        |b AS (SELECT *,
        |  (CAST(chunk_day AS BIGINT) + 19723) * 86400000 AS range_start,
        |  (CAST(chunk_day AS BIGINT) + 19723) * 86400000 + 86400000 AS range_end
        |  FROM agg),
        |d1 AS (SELECT *,
        |  CAST(last_ts - first_ts AS DOUBLE) AS sampled_d,
        |  CASE WHEN n >= 2 THEN CAST(last_ts - first_ts AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |       ELSE 0.0 END AS avg_d,
        |  CAST(first_ts - range_start AS DOUBLE) AS to_start0_d,
        |  CAST(range_end - last_ts AS DOUBLE) AS to_end_d
        |  FROM b),
        |d2 AS (SELECT *,
        |  CASE WHEN delta_milli > 0 AND v_first >= 0
        |    THEN sampled_d * (CAST(v_first AS DOUBLE) / CAST(delta_milli AS DOUBLE))
        |    ELSE to_start0_d END AS to_zero_d
        |  FROM d1),
        |d3 AS (SELECT *, LEAST(to_start0_d, to_zero_d) AS to_start_d FROM d2),
        |d4 AS (SELECT *,
        |  sampled_d
        |    + (CASE WHEN to_start_d < avg_d * 1.1 THEN to_start_d ELSE avg_d / 2.0 END)
        |    + (CASE WHEN to_end_d < avg_d * 1.1 THEN to_end_d ELSE avg_d / 2.0 END)
        |    AS extrap_d
        |  FROM d3)
        |SELECT event_type, chunk_day, n, n_resets, delta_milli,
        |  CASE WHEN n >= 2 AND last_ts > first_ts
        |    THEN CAST(FLOOR(CAST(delta_milli AS DOUBLE) * (extrap_d / sampled_d)
        |                    * 1000.0 + 0.5) AS BIGINT)
        |    ELSE NULL END AS increase_micro
        |FROM d4 ORDER BY event_type, chunk_day""".stripMargin),

    Query("events_counter_delta", (s, dir) =>
      // counter_agg delta() with reset handling (drop ⇒ restart),
      // integer milli-values, one per-key window
      ops.EventAnalytics.counterDelta(Cdc.walEvents(s, dir))
        .orderBy(col("user_id")),
      // counter-delta twin: lag() diffs, resets contribute whole
      """WITH wal AS (
        |  SELECT event_id AS lsn, user_id,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_milli,
        |    epoch_ns(ts) // 1000000 AS ts_ms
        |  FROM events),
        |lagged AS (SELECT *, lag(v_milli, 1) OVER (
        |    PARTITION BY user_id ORDER BY ts_ms * 1000000 + lsn) AS prev FROM wal)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN prev IS NULL THEN 0
        |       WHEN v_milli >= prev THEN v_milli - prev
        |       ELSE v_milli END) AS BIGINT) AS delta_milli,
        |  CAST(SUM(CASE WHEN prev IS NOT NULL AND v_milli < prev THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_resets,
        |  COUNT(*) AS n
        |FROM lagged GROUP BY user_id ORDER BY user_id""".stripMargin),

    Query("events_gauge_agg", (s, dir) =>
      // gauge_agg: counter_agg for metrics that may decrease — signed
      // delta plus left/right edge idelta/irate per (type, day)
      ops.EventAnalytics.gaugeAgg(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("chunk_day")),
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type, value,
        |    epoch_ns(ts) // 1000000 AS ts_ms,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day
        |  FROM events),
        |p AS (SELECT event_type, chunk_day, ts_ms,
        |    ts_ms * 1000000 + lsn AS ord,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_milli,
        |    lag(CAST(floor(value * 1000 + 0.5) AS BIGINT)) OVER w AS prev_v,
        |    lag(ts_ms) OVER w AS prev_ts
        |  FROM wal
        |  WINDOW w AS (PARTITION BY event_type, chunk_day
        |               ORDER BY ts_ms * 1000000 + lsn)),
        |a AS (SELECT event_type, chunk_day, COUNT(*) AS n,
        |    arg_min(v_milli, ord) AS v_first,
        |    arg_max(v_milli, ord) AS v_last,
        |    arg_min(v_milli - prev_v, ord) FILTER (prev_v IS NOT NULL) AS il,
        |    arg_min(ts_ms - prev_ts, ord) FILTER (prev_v IS NOT NULL) AS ilgap,
        |    arg_max(v_milli - prev_v, ord) FILTER (prev_v IS NOT NULL) AS ir,
        |    arg_max(ts_ms - prev_ts, ord) FILTER (prev_v IS NOT NULL) AS irgap
        |  FROM p GROUP BY 1, 2)
        |SELECT event_type, chunk_day, n,
        |  v_last - v_first AS delta_milli,
        |  CASE WHEN n >= 2 THEN il END AS idelta_left_milli,
        |  CASE WHEN n >= 2 THEN ir END AS idelta_right_milli,
        |  CASE WHEN n >= 2 AND ilgap > 0 THEN
        |    CAST(FLOOR(CAST(il AS DOUBLE) / CAST(ilgap AS DOUBLE)
        |               * 1000000.0 + 0.5) AS BIGINT) END AS irate_left_micro,
        |  CASE WHEN n >= 2 AND irgap > 0 THEN
        |    CAST(FLOOR(CAST(ir AS DOUBLE) / CAST(irgap AS DOUBLE)
        |               * 1000000.0 + 0.5) AS BIGINT) END AS irate_right_micro
        |FROM a ORDER BY event_type, chunk_day""".stripMargin),

    Query("events_time_weight", (s, dir) =>
      // time_weight('LOCF'|'Linear') + average accessor: integral over
      // the bucket's duration, exact integer millicents both methods
      ops.EventAnalytics.timeWeightedAvg(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("chunk_day")),
      // gauge_agg twin: identical window pairs; the edge pairs select via
      // FILTERed arg_min/arg_max where Spark uses the sentinel ordering,
      // and the rates evaluate the byte-identical fixed-order double text
      // time-weight twin: identical segment integrals, HUGEINT sums, one
      // integral division to millicents (null on zero-duration buckets)
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type, value,
        |    epoch_ns(ts) // 1000000 AS ts_ms,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day
        |  FROM events WHERE value IS NOT NULL),
        |p AS (SELECT event_type, chunk_day, ts_ms,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
        |    lead(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS next_v,
        |    lead(ts_ms) OVER w AS next_ts
        |  FROM wal
        |  WINDOW w AS (PARTITION BY event_type, chunk_day
        |               ORDER BY ts_ms * 1000000 + lsn)),
        |a AS (SELECT event_type, chunk_day, CAST(COUNT(*) AS BIGINT) AS n_points,
        |    MAX(ts_ms) - MIN(ts_ms) AS den_ms,
        |    SUM(CASE WHEN next_ts IS NOT NULL
        |        THEN v_cents * (next_ts - ts_ms) ELSE 0 END) AS num_locf,
        |    SUM(CASE WHEN next_ts IS NOT NULL
        |        THEN (v_cents + next_v) * (next_ts - ts_ms) ELSE 0 END) AS num_lin2x
        |  FROM p GROUP BY 1, 2)
        |SELECT event_type, chunk_day, n_points, den_ms,
        |  CASE WHEN den_ms > 0 THEN CAST((num_locf * 1000) // den_ms AS BIGINT) END
        |    AS twa_locf_millicents,
        |  CASE WHEN den_ms > 0 THEN CAST((num_lin2x * 500) // den_ms AS BIGINT) END
        |    AS twa_linear_millicents
        |FROM a ORDER BY event_type, chunk_day""".stripMargin),

    Query("events_stats2d", (s, dir) =>
      // stats_agg 2-D accessor family: covariance / corr /
      // determination_coefficient / x_intercept from the SAME exact
      // integer accumulator, fixed-op-order doubles floored to integers
      ops.EventAnalytics.stats2dAccessors(Cdc.walEvents(s, dir))
        .orderBy(col("event_type")),
      // stats2d twin: identical sums, identical fixed-order double
      // accessor text (division/sqrt are correctly rounded — bit-equal)
      """WITH wal AS (
        |  SELECT event_type,
        |    (epoch_ns(ts) // 1000000 - (SELECT min(epoch_ns(ts) // 1000000) FROM events)) // 60000 AS x,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |acc AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
        |    CAST(SUM(x * y) AS BIGINT) AS sum_xy,
        |    CAST(SUM(x * x) AS BIGINT) AS sum_x2,
        |    CAST(SUM(y * y) AS BIGINT) AS sum_y2
        |  FROM wal GROUP BY event_type),
        |sl AS (SELECT *,
        |    CASE WHEN CAST(n AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
        |              - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE) = 0.0 THEN 0
        |         ELSE CAST(FLOOR(
        |           (CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE)
        |              - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
        |           / (CAST(n AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
        |              - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
        |           * 1000000.0 + 0.5) AS BIGINT) END AS slope_micro
        |  FROM acc),
        |ic AS (SELECT *,
        |    CASE WHEN n = 0 THEN 0
        |         ELSE CAST(FLOOR(
        |           (CAST(sum_y AS DOUBLE) - CAST(slope_micro AS DOUBLE) / 1000000.0
        |              * CAST(sum_x AS DOUBLE)) / CAST(n AS DOUBLE) + 0.5) AS BIGINT) END
        |      AS intercept_milli
        |  FROM sl),
        |cr AS (SELECT *,
        |    CASE WHEN CAST(n AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
        |              - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE) <= 0.0
        |           OR CAST(n AS DOUBLE) * CAST(sum_y2 AS DOUBLE)
        |              - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE) <= 0.0
        |         THEN NULL
        |         ELSE (CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE)
        |                 - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
        |              / (SQRT(CAST(n AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
        |                      - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
        |                 * SQRT(CAST(n AS DOUBLE) * CAST(sum_y2 AS DOUBLE)
        |                        - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE)))
        |    END AS corr_d
        |  FROM ic)
        |SELECT event_type, n, sum_x, sum_y, sum_xy, sum_x2, sum_y2,
        |  slope_micro, intercept_milli,
        |  CASE WHEN n = 0 THEN NULL
        |       ELSE CAST(FLOOR(
        |         (CAST(sum_xy AS DOUBLE)
        |            - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE)
        |              / CAST(n AS DOUBLE))
        |         / CAST(n AS DOUBLE) + 0.5) AS BIGINT) END AS covar_xy,
        |  CAST(FLOOR(corr_d * 1000000.0 + 0.5) AS BIGINT) AS corr_micro,
        |  CAST(FLOOR(corr_d * corr_d * 1000000.0 + 0.5) AS BIGINT) AS determination_micro,
        |  CASE WHEN slope_micro = 0 THEN NULL
        |       ELSE CAST(FLOOR(-CAST(intercept_milli AS DOUBLE)
        |                       / (CAST(slope_micro AS DOUBLE) / 1000000.0)
        |                       * 1000.0 + 0.5) AS BIGINT) END AS x_intercept_milli
        |FROM cr ORDER BY event_type""".stripMargin),

    Query("events_stats_moments", (s, dir) =>
      // stats_agg skewness/kurtosis accessors: exact integer power sums
      // (mergeable — the rollup contract) + central-moment expansion in
      // fixed-order doubles, sqrt-only (pow is not correctly rounded)
      ops.EventAnalytics.statsMoments(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("chunk_day")),
      // moments twin: identical deci-scale power sums (y⁴ ≤ 10¹⁶·rows
      // fits i64 — no HUGEINT reaches the output), identical
      // central-moment expansion text
      """WITH wal AS (
        |  SELECT event_type,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day,
        |    CAST(floor(value * 10 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |acc AS (SELECT event_type, chunk_day, COUNT(*) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sum_y,
        |    CAST(SUM(y * y) AS BIGINT) AS sum_y2,
        |    CAST(SUM(y * y * y) AS BIGINT) AS sum_y3,
        |    CAST(SUM(y * y * y * y) AS BIGINT) AS sum_y4
        |  FROM wal GROUP BY 1, 2),
        |mm AS (SELECT *, CAST(sum_y AS DOUBLE) / CAST(n AS DOUBLE) AS mu FROM acc),
        |ctr AS (SELECT *,
        |    CAST(sum_y2 AS DOUBLE) / CAST(n AS DOUBLE) - mu * mu AS m2,
        |    CAST(sum_y3 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 3.0 * mu * (CAST(sum_y2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      + 2.0 * mu * mu * mu AS m3,
        |    CAST(sum_y4 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 4.0 * mu * (CAST(sum_y3 AS DOUBLE) / CAST(n AS DOUBLE))
        |      + 6.0 * mu * mu * (CAST(sum_y2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM mm)
        |SELECT event_type, chunk_day, n, sum_y, sum_y2, sum_y3, sum_y4,
        |  CASE WHEN n >= 2 AND m2 > 0.0
        |    THEN CAST(FLOOR(m3 / (m2 * SQRT(m2)) * 1000000.0 + 0.5) AS BIGINT)
        |  END AS skew_micro,
        |  CASE WHEN n >= 2 AND m2 > 0.0
        |    THEN CAST(FLOOR((m4 / (m2 * m2) - 3.0) * 1000000.0 + 0.5) AS BIGINT)
        |  END AS kurtosis_micro
        |FROM ctr ORDER BY event_type, chunk_day""".stripMargin),

    Query("events_max_n", (s, dir) =>
      // max_n/min_n/max_n_by: N extreme values per type with their
      // carried payload; WindowGroupLimit keeps the exchange top-k-sized
      ops.EventAnalytics.maxN(Cdc.walEvents(s, dir), n = 5)
        .orderBy(col("side"), col("event_type"), col("rnk")),
      // max_n twin: identical row_number windows and (value, lsn) ties
      """WITH wal AS (SELECT event_id AS lsn, event_type, user_id,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_milli FROM events
        |  WHERE value IS NOT NULL),
        |mx AS (SELECT 'max_n' AS side, event_type,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY v_milli DESC, lsn) AS BIGINT) AS rnk,
        |    v_milli, lsn, user_id FROM wal QUALIFY rnk <= 5),
        |mn AS (SELECT 'min_n' AS side, event_type,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY v_milli ASC, lsn) AS BIGINT) AS rnk,
        |    v_milli, lsn, user_id FROM wal QUALIFY rnk <= 5)
        |SELECT * FROM mx UNION ALL SELECT * FROM mn
        |ORDER BY side, event_type, rnk""".stripMargin),

    Query("events_hdr_rank", (s, dir) =>
      // approx_percentile_rank: the hdrQuantiles inverse — probe values
      // rank against the power-of-two bucket table, integer interpolation
      ops.EventAnalytics.hdrPercentileRank(Cdc.walEvents(s, dir),
          probesCents = Seq(1000L, 10000L, 30000L, 56000L))
        .orderBy(col("event_type"), col("probe_cents")),
      // percentile-rank twin: same power-of-two buckets; probe bucket
      // index/width are compile-time constants on both sides
      """WITH wal AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) + 1 AS shifted
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    CAST(length(printf('%b', shifted)) - 1 AS INTEGER) AS bucket,
        |    COUNT(*) AS cnt
        |  FROM wal GROUP BY 1, 2),
        |p AS (SELECT * FROM (VALUES
        |    (CAST(1000 AS BIGINT), CAST(1001 AS BIGINT), 9, CAST(512 AS BIGINT)),
        |    (CAST(10000 AS BIGINT), CAST(10001 AS BIGINT), 13, CAST(8192 AS BIGINT)),
        |    (CAST(30000 AS BIGINT), CAST(30001 AS BIGINT), 14, CAST(16384 AS BIGINT)),
        |    (CAST(56000 AS BIGINT), CAST(56001 AS BIGINT), 15, CAST(32768 AS BIGINT)))
        |  v(probe_cents, shifted, pb, pw))
        |SELECT event_type, probe_cents, CAST(SUM(cnt) AS BIGINT) AS n,
        |  (CAST(SUM(CASE WHEN bucket < pb THEN cnt
        |                 WHEN bucket = pb THEN ((p.shifted - pw + 1) * cnt) // pw
        |                 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(SUM(cnt) AS BIGINT) AS rank_ppm
        |FROM b CROSS JOIN p GROUP BY event_type, probe_cents
        |ORDER BY event_type, probe_cents""".stripMargin),

    Query("events_freq_topn", (s, dir) => {
      // freq_agg/topn hyperfunction analog: Misra–Gries mergeable
      // heavy-hitters as a custom TypedImperativeAggregate — ONE
      // shuffle of capacity-sized sketch states, never of rows. The
      // gate runs it in the exact regime (40 distinct keys ≤ capacity
      // 64 ⇒ zero decrements ⇒ estimates ARE the counts and max_err
      // is 0); the inexact-regime n/(k+1) bound is spec-proven
      val keyed = Cdc.walEvents(s, dir).select(
        concat(col("event_type"), lit("#"),
          pmod(col("user_id"), lit(8)).cast("string")).as("k"))
      keyed
        .agg(graft.functions.MisraGriesAgg.freq_agg(col("k"), 64).as("fa"))
        .select(explode(col("fa.items")).as("item"),
          col("fa.dec").as("max_err"), col("fa.n").as("n_rows"))
        .select(col("item.key").as("key"), col("item.est").as("est"),
          col("max_err"), col("n_rows"))
        .orderBy(col("est").desc, col("key"))
    },
      // freq_agg twin: the gate keys (type × user_id%8 = 40 distinct) fit
      // the capacity-64 summary, so Misra–Gries is EXACT — estimates are
      // plain group counts and the carried error bound is zero; a sketch
      // that ever decremented would hash red on max_err
      """WITH k AS (
        |  SELECT event_type || '#' || CAST(user_id % 8 AS VARCHAR) AS key
        |  FROM events),
        |t AS (SELECT COUNT(*) AS n_rows FROM k)
        |SELECT k.key, COUNT(*) AS est, CAST(0 AS BIGINT) AS max_err, t.n_rows
        |FROM k, t GROUP BY k.key, t.n_rows
        |ORDER BY est DESC, key""".stripMargin),

    Query("events_asap_smooth", (s, dir) =>
      // asap_smooth hyperfunction analog (ASAP, VLDB'17): hourly
      // densified per-type series, candidate moving windows, winner =
      // argmin integer roughness (telescoped diffs, wide-int squares);
      // everything past the first agg is dashboard-sized
      ops.EventAnalytics.asapSmooth(Cdc.walEvents(s, dir))
        .orderBy(col("event_type"), col("hour")),
      // asap twin: identical densified hourly series, one UNION branch per
      // candidate window (SQL frames are literal), telescoped roughness in
      // HUGEINT (Spark: decimal) — internal only, the hash covers the
      // winning window's smoothed series
      {
        val branches = Seq(2, 3, 4, 6, 8, 12, 24).map { w =>
          s"""  SELECT event_type, minh, $w AS w, hour,
             |    CAST(sum(x) OVER (PARTITION BY event_type ORDER BY hour
             |      ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS BIGINT) AS s
             |  FROM dense""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH wal AS (
           |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour,
           |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm
           |  FROM events),
           |b AS (SELECT event_type, hour, CAST(sum(vm) AS BIGINT) AS x
           |      FROM wal GROUP BY 1, 2),
           |bounds AS (SELECT event_type, min(hour) AS minh, max(hour) AS maxh
           |           FROM b GROUP BY 1),
           |dense0 AS (SELECT event_type, minh,
           |             unnest(generate_series(minh, maxh)) AS hour FROM bounds),
           |dense AS (SELECT d.event_type, d.minh, d.hour, coalesce(b.x, 0) AS x
           |          FROM dense0 d LEFT JOIN b
           |            ON b.event_type = d.event_type AND b.hour = d.hour),
           |sm AS (
           |$branches
           |),
           |v AS (SELECT * FROM sm WHERE hour >= minh + w - 1),
           |d AS (SELECT event_type, minh, w, hour, s,
           |        s - lag(s) OVER (PARTITION BY event_type, w
           |          ORDER BY hour) AS dd FROM v),
           |r AS (SELECT event_type, w, sum(CAST(dd AS HUGEINT) * dd) AS rough
           |      FROM d WHERE hour >= minh + w GROUP BY 1, 2),
           |win AS (SELECT event_type, w FROM r
           |        QUALIFY row_number() OVER (PARTITION BY event_type
           |          ORDER BY rough, w) = 1)
           |SELECT v.event_type, v.w AS window_w, v.hour, v.s AS smoothed_milli
           |FROM v JOIN win ON win.event_type = v.event_type AND win.w = v.w
           |ORDER BY 1, 3""".stripMargin
      }),

    Query("events_m4", (s, dir) =>
      // M4 downsample (VLDB'14): first/last/min/max per equal-count
      // bucket — the pixel-exact line-rendering reduction; one window
      // pass + one partial agg of four champions
      ops.EventAnalytics.m4Downsample(Cdc.walEvents(s, dir), nBuckets = 40)
        .orderBy(col("event_type"), col("bucket")),
      // M4 twin: same rank buckets as the Spark side; four row_number
      // champions per bucket (this DuckDB's arg_min can't order by a
      // composite), value ties to the earliest point
      """WITH wal AS (
        |  SELECT event_id AS lsn, event_type,
        |    epoch_ns(ts) // 1000000 AS ts_ms,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |rk AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts_ms, lsn) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM wal),
        |bk AS (SELECT *, (rn - 1) * 40 // n AS bucket FROM rk),
        |c AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts_ms, lsn) AS rf,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts_ms DESC, lsn DESC) AS rl,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY v, ts_ms, lsn) AS rmin,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY v DESC, ts_ms, lsn) AS rmax
        |  FROM bk)
        |SELECT event_type, bucket, COUNT(*) AS n_pts,
        |  max(CASE WHEN rf = 1 THEN ts_ms END) AS first_ts,
        |  max(CASE WHEN rf = 1 THEN v END) AS first_v,
        |  max(CASE WHEN rl = 1 THEN ts_ms END) AS last_ts,
        |  max(CASE WHEN rl = 1 THEN v END) AS last_v,
        |  max(CASE WHEN rmin = 1 THEN ts_ms END) AS min_ts,
        |  max(CASE WHEN rmin = 1 THEN v END) AS min_v,
        |  max(CASE WHEN rmax = 1 THEN ts_ms END) AS max_ts,
        |  max(CASE WHEN rmax = 1 THEN v END) AS max_v
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("events_cms_heavy", (s, dir) => {
      // count_min_sketch + in-plan decode: Spark ships the CMS aggregate
      // but no SQL read-back — cms_estimate (custom expression) probes
      // the broadcast one-row sketch per key on the executors. Gate:
      // the CMS contract booleans (est ≥ true; est ≤ true + ε·N with
      // the fixed seed ⇒ deterministic at every SF) hash alongside the
      // exact counts
      val wal = Cdc.walEvents(s, dir)
      val sketch = wal.agg(
        expr("count_min_sketch(user_id, 0.0005d, 0.99d, 42)").as("cms"),
        count(lit(1)).as("n_rows"))
      val exact = wal.groupBy(col("user_id")).agg(count(lit(1)).as("true_cnt"))
      val est = graft.functions.CmsEstimate.cms_estimate(col("cms"), col("user_id"))
      exact.crossJoin(broadcast(sketch))
        .select(col("user_id"), col("true_cnt"), col("n_rows"),
          (est >= col("true_cnt")).as("never_undercounts"),
          // ceil(n / 2000) = ε·N at ε = 0.0005; integer div, not `/`
          (est <= col("true_cnt") + expr("(n_rows + 1999) div 2000"))
            .as("within_eps_n"))
        .orderBy(col("user_id"))
    },
      // CMS twin: exact per-key counts + the contract booleans stated true
      // — an estimate below truth (impossible for a correct CMS) or past
      // ε·N (deterministic with the fixed seed) hashes red
      """WITH wal AS (SELECT user_id FROM events),
        |t AS (SELECT COUNT(*) AS n_rows FROM wal)
        |SELECT w.user_id, COUNT(*) AS true_cnt, t.n_rows,
        |  true AS never_undercounts, true AS within_eps_n
        |FROM wal w, t GROUP BY w.user_id, t.n_rows
        |ORDER BY w.user_id""".stripMargin),

    Query("events_hll_rollup", (s, dir) => {
      // hyperloglog + rollup() hyperfunction contract: per-day
      // DataSketches HLL sketches union to the per-type range estimate
      // (register-max merge — order/partitioning-invariant), instead of
      // re-scanning the range. The gate emits the EXACT distincts (SQL-
      // checkable) plus 5%-bound booleans for the rollup and direct
      // estimates (~3×RSE at lgK=12 and deterministic — the sketch hash
      // is fixed, so the comparison is stable at every SF, exact below
      // the coupon threshold). Exact distincts aggregate in their own
      // frames: a distinct agg mixed with the TypedImperative sketch agg
      // would force the slow sort-based fallback (see q_quantiles_approx)
      val wal = Cdc.walEvents(s, dir)
      val daySk = wal.groupBy(col("event_type"), col("chunk_day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val rolled = daySk.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_rollup"),
          count(lit(1)).as("n_days"))
      val direct = wal.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est_direct"))
      val dayExact = wal.groupBy(col("event_type"), col("chunk_day"))
        .agg(count_distinct(col("user_id")).as("day_users"))
        .groupBy(col("event_type"))
        .agg(sum(col("day_users")).as("sum_day_users"))
      val allExact = wal.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("exact_users"))
      rolled.join(direct, "event_type").join(dayExact, "event_type")
        .join(allExact, "event_type")
        .select(col("event_type"), col("n_days"), col("exact_users"),
          col("sum_day_users"),
          (abs(col("est_rollup") - col("exact_users")) * 20 <=
            col("exact_users")).as("rollup_within_5pct"),
          (abs(col("est_direct") - col("exact_users")) * 20 <=
            col("exact_users")).as("direct_within_5pct"))
        .orderBy(col("event_type"))
    },
      // HLL-rollup twin: the oracle states the exact distincts and asserts
      // the sketch estimates (rollup-of-day-sketches AND direct) land
      // inside the 5% bound — a drifting or wrongly-merged sketch flips
      // the booleans and hashes red
      """WITH wal AS (
        |  SELECT event_type, user_id,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day
        |  FROM events),
        |d AS (SELECT event_type, chunk_day,
        |        COUNT(DISTINCT user_id) AS day_users
        |      FROM wal GROUP BY 1, 2)
        |SELECT w.event_type,
        |  (SELECT COUNT(*) FROM d WHERE d.event_type = w.event_type) AS n_days,
        |  COUNT(DISTINCT w.user_id) AS exact_users,
        |  (SELECT CAST(SUM(day_users) AS BIGINT) FROM d
        |    WHERE d.event_type = w.event_type) AS sum_day_users,
        |  true AS rollup_within_5pct,
        |  true AS direct_within_5pct
        |FROM wal w GROUP BY w.event_type ORDER BY w.event_type""".stripMargin)
  )
}
