package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-stream analytics: windows, sessions, anomaly and drift
  * statistics, experiments and the streamed end-to-end rows. */
private[queries] object EventRows {

  /** Shared CTE chain for the two DSIR oracles: md5-nibble buckets,
    * per-bucket target/raw counts, 6-dp log10 lambda deltas, the
    * n·offset normalizer — everything up to the final projection. */
  /** Shared split-conformal derivation: md5 split buckets (the
    * dataset_split replay), per-type floor-mean predictor from train,
    * calibration residuals, rank-r order statistic q̂, test rows. */
  private val conformalCtes: String =
    """WITH ev AS (
      |  SELECT event_id, event_type,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |b AS (
      |  SELECT event_id, event_type, cents,
      |         CAST(list_sum(list_transform(generate_series(1, 4),
      |           i -> (strpos('0123456789abcdef',
      |                   substr(md5(CAST(event_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
      |                * CAST(16 ** (4 - i) AS BIGINT))) % 100 AS BIGINT) AS bucket
      |  FROM ev),
      |sp AS (
      |  SELECT event_id, event_type, cents,
      |         CASE WHEN bucket < 80 THEN 'train'
      |              WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM b),
      |yh AS (SELECT event_type, CAST(sum(cents) // count(*) AS BIGINT) AS yhat
      |       FROM sp WHERE split = 'train' GROUP BY 1),
      |cal AS (SELECT abs(cents - yhat) AS s
      |        FROM sp JOIN yh USING (event_type) WHERE split = 'val'),
      |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
      |              CAST(least(((count(*) + 1) * 90 + 99) // 100, count(*))
      |                   AS BIGINT) AS r
      |       FROM cal),
      |q AS (SELECT n_cal, r, CAST(min(s) AS BIGINT) AS qhat
      |      FROM (SELECT s, row_number() OVER (ORDER BY s) AS rn FROM cal), nc
      |      WHERE rn = r GROUP BY n_cal, r),
      |t AS (SELECT sp.event_id, sp.event_type, sp.cents, yh.yhat
      |      FROM sp JOIN yh USING (event_type) WHERE split = 'test')""".stripMargin

  /** DBSCAN oracle scaffolding: quadratic pair relation over the 2-D
    * µ-quantized projection, cores, recursive min-label components
    * (`cl`) and border labels (`bl`). */
  /** Dense zero-filled (event_type, day) count grid over the global
    * day span — the shared base of the event-series cards (CUSUM, MAD
    * anomalies); day = days since 1970-01-01 under the UTC session
    * zone on both engines. */
  private val EventDayGridCtes: String =
    """WITH base AS (
      |  SELECT event_type,
      |         CAST(date_diff('day', DATE '1970-01-01',
      |              CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
      |counts AS (
      |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |  FROM base GROUP BY 1, 2),
      |span AS (SELECT min(day) AS lo, max(day) AS hi FROM base),
      |days AS (
      |  SELECT CAST(unnest(generate_series(lo, hi)) AS BIGINT) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM base),
      |grid AS (
      |  SELECT t.event_type, d.day, coalesce(c.cnt, 0) AS cnt
      |  FROM types t CROSS JOIN days d
      |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.day = d.day)"""
      .stripMargin

  /** The scaling bound of the end-to-end streamed rows. Their cost is
    * dominated by scale-invariant micro-batch machinery (trigger setup,
    * state-store open/commit, no-data watermark batches), measured
    * ratios 0.9–1.3 on the 10× step, so a real state-store or
    * join-state regression (a 3–4× jump) should alert instead of hiding
    * under the generic 12× data-scaling allowance. */
  private val StreamedScaling = Some(3.0)

  val specs: Seq[QuerySpec] = Seq(
    // Per-user hourly gap-filled resampling (dense training series);
    // values as exact integer cents. maxSpanHours guards runaway grids.
    QuerySpec("events_resample", (s, d) =>
      graft.streaming.EventPipeline.resampleHourly(table(s, d, "events"))
        .orderBy("user_id", "hour"),
      // The dense per-user hour grid rebuilt with generate_series
      // (inclusive ends, like Spark's sequence); values in exact cents.
      """WITH ev AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |counts AS (
        |  SELECT user_id, h, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(cents) AS BIGINT) AS vc
        |  FROM ev GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM spans)
        |SELECT g.user_id, g.h AS hour,
        |       coalesce(c.n, 0) AS n_events, coalesce(c.vc, 0) AS value_cents
        |FROM grid g LEFT JOIN counts c ON c.user_id = g.user_id AND c.h = g.h
        |ORDER BY g.user_id, hour""".stripMargin),
    // Conversion funnel signup → view → purchase: users reaching each
    // step with strictly-increasing event times.
    QuerySpec("events_funnel", (s, d) =>
      graft.streaming.EventPipeline.funnel(table(s, d, "events"),
        Seq("signup", "view", "purchase"))
        .orderBy("step_idx"),
      // The funnel re-derived step by step with the same strictly-after
      // semantics; scalar-subquery counts per step.
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 1 AS step_idx, 'signup' AS step,
        |         (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
        |  UNION ALL SELECT 2, 'view', (SELECT CAST(count(*) AS BIGINT) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3))
        |ORDER BY step_idx""".stripMargin),
    // Rolling 7-day activity per (user, day): RANGE frame over integer
    // day numbers on the daily pre-aggregate.
    QuerySpec("events_rolling_7d", (s, d) =>
      graft.streaming.EventPipeline.rolling7dActivity(table(s, d, "events"))
        .orderBy("user_id", "day"),
      // Rolling window re-derived with the identical RANGE frame over
      // epoch-day numbers.
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |         CAST(count(*) AS BIGINT) AS n,
        |         date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE))
        |           AS day_num
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, n,
        |       CAST(sum(n) OVER (PARTITION BY user_id ORDER BY day_num
        |                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS n_7d
        |FROM daily ORDER BY user_id, day""".stripMargin),
    // Winsorization card: exact p01/p99 fences + clamp counts.
    QuerySpec("events_winsorize", (s, d) =>
      graft.streaming.EventPipeline.typeValueWinsorize(table(s, d, "events"))
        .select(col("event_type"), round(col("lo"), 6).as("lo"),
          round(col("hi"), 6).as("hi"), col("n_below"), col("n_above"),
          col("n"))
        .orderBy("event_type"),
      // Winsorize fences from the same exact percentile definition;
      // clamp counts are integer comparisons against identical doubles.
      """WITH f AS (
        |  SELECT event_type, quantile_cont(value, 0.01) AS lo,
        |         quantile_cont(value, 0.99) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, round(max(f.lo), 6) AS lo, round(max(f.hi), 6) AS hi,
        |       CAST(sum(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_below,
        |       CAST(sum(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_above,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events e JOIN f ON f.event_type = e.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),
    // Robust outliers by modified z-score (|v − med| > 3.5·MAD).
    QuerySpec("events_outliers", (s, d) =>
      graft.streaming.EventPipeline.typeValueOutliers(table(s, d, "events"), 3.5)
        .select(col("event_id"), col("event_type"), round(col("value"), 6).as("value"),
          round(col("median"), 6).as("median"), round(col("mad"), 6).as("mad"))
        .orderBy("event_id"),
      // The same modified-z rule over identical median/MAD doubles.
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type, max(m.med) AS median,
        |         quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m ON m.event_type = e.event_type
        |  GROUP BY e.event_type)
        |SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
        |       round(s.median, 6) AS median, round(s.mad, 6) AS mad
        |FROM events e JOIN mad s ON s.event_type = e.event_type
        |WHERE abs(e.value - s.median) > 3.5 * s.mad
        |ORDER BY e.event_id""".stripMargin),
    // Exact median + MAD per event type (robust dispersion; same
    // (n-1)q interpolation as the quantile rows).
    QuerySpec("events_mad", (s, d) =>
      graft.streaming.EventPipeline.typeValueMad(table(s, d, "events"))
        .select(col("event_type"), round(col("median"), 6).as("median"),
          round(col("mad"), 6).as("mad"))
        .orderBy("event_type"),
      // Median + MAD from the same exact interpolated percentile
      // definition as the quantile rows; round(6) on both sides.
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type,
        |       round(max(m.med), 6) AS median,
        |       round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
        |FROM events e JOIN med m ON m.event_type = e.event_type
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin),
    // Exact per-type value quantiles (approx_percentile is the 100 TB
    // path, pinned against this exact operator in ScalaTest).
    QuerySpec("events_quantiles", (s, d) =>
      graft.streaming.EventPipeline.typeValueQuantiles(
        table(s, d, "events"), Seq(0.5, 0.9, 0.99))
        .orderBy("event_type", "q"),
      """SELECT event_type, q, round(v, 6) AS val
        |FROM (
        |  SELECT event_type,
        |         unnest([0.5, 0.9, 0.99]) AS q,
        |         unnest(quantile_cont(value, [0.5, 0.9, 0.99])) AS v
        |  FROM events GROUP BY event_type)
        |ORDER BY event_type, q""".stripMargin),
    // The unbounded-group scale path: approx_percentile sketch, driver-
    // verified via its rank guarantee (`approx_rank_ok` must be TRUE in
    // every row) alongside the exact oracle-matched quantile value.
    QuerySpec("events_quantiles_approx", (s, d) =>
      graft.streaming.EventPipeline.typeValueQuantilesApprox(
        table(s, d, "events"), Seq(0.5, 0.9, 0.99))
        .orderBy("event_type", "q"),
      // `val` is the exact interpolated quantile (identical definition);
      // the sketch side is oracle-checked through its rank guarantee:
      // approx_rank_ok must come out TRUE for every (type, q).
      """SELECT event_type, q, round(v, 6) AS val, TRUE AS approx_rank_ok
        |FROM (
        |  SELECT event_type,
        |         unnest([0.5, 0.9, 0.99]) AS q,
        |         unnest(quantile_cont(value, [0.5, 0.9, 0.99])) AS v
        |  FROM events GROUP BY event_type)
        |ORDER BY event_type, q""".stripMargin),
    // Top-k per group via the custom TypedImperativeAggregate — the
    // map-side-partial alternative to a row_number window: the shuffle
    // carries at most k (score, id) pairs per group per task instead of
    // every row, and no per-group sort ever materializes. Oracle = the
    // window formulation, proving the two are equivalent.
    QuerySpec("events_topk_agg", (s, d) => {
      GraftFunctions.register(s)
      table(s, d, "events")
        .groupBy("event_type")
        .agg(GraftFunctions.topKByScore(col("value"), col("event_id"), 3).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("event_id"), round(col("col.score"), Scale).as("score"))
        .orderBy("event_type", "rnk")
    },
      """SELECT event_type, rnk, event_id, score FROM (
        |  SELECT event_type, event_id, round(value, 6) AS score,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id) AS rnk
        |  FROM events)
        |WHERE rnk <= 3
        |ORDER BY event_type, rnk""".stripMargin),
    // Windowed aggregation over the events stream shape (batch mode of
    // the Structured Streaming pipeline; exact decimal sums).
    QuerySpec("events_windowed", (s, d) =>
      graft.streaming.EventPipeline.windowedTypeStats(
        table(s, d, "events"), "1 hour")
        .orderBy("window_start", "event_type"),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    // The SAME windowed aggregation through a real Structured
    // Streaming micro-batch execution: parquet file source →
    // watermarked agg → append-mode parquet sink (AvailableNow,
    // checkpointed, state-store-backed), sink read back. Emits
    // exactly the watermark-CLOSED windows, which the oracle replays
    // as HAVING window_end <= max(ts) - 30 min — the driver-level
    // streaming gate the r9 verdict asked for.
    // Second end-to-end Structured Streaming row: the stateful DEDUP
    // shape (per-key state, not windowed aggregation) run as a real
    // file-source -> file-sink micro-batch over a DOUBLED copy of the
    // event table; the sink must reproduce the clean table's per-type
    // counts exactly (event ids are unique in the source).
    // FOURTH end-to-end streaming mode: stream-static broadcast
    // enrichment — events streamed through a real file source, joined
    // per micro-batch against a static event_type→tier dimension
    // (stateless: no watermark, no state store), parquet sink, then
    // re-aggregated; must equal the batch join exactly.
    QuerySpec("events_enrich_streamed", (s, d) => {
      val ev = table(s, d, "events")
      val dim = ev.select(col("event_type")).distinct()
        .select(col("event_type"),
          (length(col("event_type")) % 3).cast("long").as("tier"))
      graft.streaming.EventPipeline
        .streamedStaticEnrichParity(s, ev, dim, fixtureKey = Some(d))
        .orderBy("tier")
    },
      // The stream-static enrichment replayed as the plain batch join.
      """SELECT len(event_type) % 3 AS tier,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      scalingBound = StreamedScaling),
    QuerySpec("events_dedup_streamed", (s, d) =>
      graft.streaming.EventPipeline.streamedDedupParity(
        s, table(s, d, "events"), "10 minutes", fixtureKey = Some(d))
        .orderBy("event_type"),
      // Streamed parity replayed: the windowed agg restricted to the
      // watermark-CLOSED windows — window_end <= max(ts) - the 30 min
      // delay (append mode's emission rule; the trailing no-data batch
      // flushes exactly these).
      // Dedup of exact duplicates recovers the original table - the
      // oracle is the clean table's per-type counts.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
      scalingBound = StreamedScaling),
    QuerySpec("events_streamed_parity", (s, d) =>
      graft.streaming.EventPipeline.streamedWindowedTypeStats(
        s, s"$d/events.parquet", "1 hour", "30 minutes")
        .orderBy("window_start", "event_type"),
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM ev)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM ev
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
      scalingBound = StreamedScaling),
    // THIRD end-to-end streaming row: the watermarked stream-stream
    // click←view join through real file sources + parquet sink
    // (AvailableNow). Inner joins emit on match — the watermark only
    // bounds state — so the streamed output equals the batch join
    // row-for-row against the same DuckDB oracle as
    // events_stream_join.
    QuerySpec("events_join_streamed", (s, d) =>
      graft.streaming.EventPipeline.streamedClickViewParity(
        s, table(s, d, "events"), "10 minutes", horizonSeconds = 600,
        fixtureKey = Some(d))
        .orderBy("click_id", "view_id"),
      """SELECT c.event_id AS click_id, c.user_id,
        |       CAST(c.ts AS TIMESTAMP) AS click_ts,
        |       v.event_id AS view_id, CAST(v.ts AS TIMESTAMP) AS view_ts,
        |       v.value AS view_value
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 600 SECOND
        |ORDER BY click_id, view_id""".stripMargin,
      // r17: streamed family drifted +20–60% driver-to-driver
      scalingBound = StreamedScaling, isolate = true),
    // EIGHTH streaming mode: foreachBatch keyed UPSERT sink — the
    // CDC materialized view (latest row per user), batchId-versioned
    // writes for idempotence; order-free parity with the batch
    // max_by.
    QuerySpec("events_upsert_streamed", (s, d) =>
      graft.streaming.EventPipeline.streamedUpsertParity(
        s, table(s, d, "events"), fixtureKey = Some(d))
        .orderBy("user_id"),
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events),
        |r AS (SELECT user_id, event_id AS last_event_id, ts AS last_ts,
        |             value AS last_value,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM ev)
        |SELECT user_id, last_event_id, last_ts, last_value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
      scalingBound = StreamedScaling),
    // SEVENTH streaming mode: the same two-stream join LEFT OUTER —
    // null rows emit only when the watermark proves no view can
    // match (the no-data batch after the last data batch); clicks
    // still inside the final horizon stay in state. The oracle
    // encodes that closure rule explicitly.
    QuerySpec("events_outer_join_streamed", (s, d) =>
      graft.streaming.EventPipeline.streamedClickViewOuterParity(
        s, table(s, d, "events"), "10 minutes", horizonSeconds = 600,
        fixtureKey = Some(d))
        .orderBy("click_id", "view_id"),
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |v AS (
        |  SELECT event_id AS view_id, user_id AS v_user_id,
        |         CAST(ts AS TIMESTAMP) AS view_ts, value AS view_value
        |  FROM events WHERE event_type = 'view'),
        |wm AS (SELECT least((SELECT max(click_ts) FROM c),
        |                    (SELECT max(view_ts) FROM v))
        |              - INTERVAL 600 SECOND AS w),
        |m AS (
        |  SELECT c.click_id, c.user_id, c.click_ts,
        |         v.view_id, v.view_ts, v.view_value
        |  FROM c JOIN v ON c.user_id = v.v_user_id
        |   AND v.view_ts <= c.click_ts
        |   AND v.view_ts >= c.click_ts - INTERVAL 600 SECOND),
        |um AS (
        |  SELECT c.click_id, c.user_id, c.click_ts
        |  FROM c LEFT JOIN m ON c.click_id = m.click_id CROSS JOIN wm
        |  WHERE m.click_id IS NULL AND c.click_ts < wm.w)
        |SELECT click_id, user_id, click_ts, view_id, view_ts, view_value FROM m
        |UNION ALL
        |SELECT click_id, user_id, click_ts, NULL, NULL, NULL FROM um
        |ORDER BY click_id, view_id""".stripMargin,
      scalingBound = StreamedScaling),
    // Discrete return-hazard life table over inter-activity gaps —
    // hazard(k) = returns at day k / users still silent at k; the
    // where-are-users-lost curve DAU/WAU can't localize. Censoring
    // explicit: long gaps stay in every denominator.
    QuerySpec("events_return_hazard", (s, d) =>
      graft.streaming.EventPipeline.returnHazard(
        table(s, d, "events"), maxDays = 14),
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |         date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
        |  FROM events),
        |g AS (
        |  SELECT CAST(date_diff('day',
        |           lag(day) OVER (PARTITION BY user_id ORDER BY day), day)
        |         AS BIGINT) AS gap
        |  FROM days),
        |h AS (
        |  SELECT gap, CAST(count(*) AS BIGINT) AS n_return
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT gap, n_return,
        |         CAST(sum(n_return) OVER (ORDER BY gap DESC) AS BIGINT)
        |           AS n_at_risk
        |  FROM h)
        |SELECT gap AS day_gap, n_return, n_at_risk,
        |       CAST((1000000 * n_return) // n_at_risk AS BIGINT)
        |         AS hazard_micro
        |FROM r WHERE gap <= 14 ORDER BY day_gap""".stripMargin),
    // Whale concentration: top-10-user share of each type's volume —
    // the sampling-weight and salting-threshold warning.
    QuerySpec("events_whales", (s, d) =>
      graft.streaming.EventPipeline.whaleConcentration(
        table(s, d, "events"), k = 10)
        .orderBy("event_type"),
      """WITH per AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rk AS (
        |  SELECT event_type, n,
        |         row_number() OVER
        |           (PARTITION BY event_type ORDER BY n DESC, user_id)
        |           AS rnk
        |  FROM per)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(n) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN rnk <= 10 THEN n ELSE 0 END) AS BIGINT)
        |         AS n_top,
        |       CAST((1000000 * sum(CASE WHEN rnk <= 10 THEN n ELSE 0 END)) //
        |            sum(n) AS BIGINT) AS share_micro
        |FROM rk GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Seasonal hour-of-week outliers — hours breaking their own
    // weekly rhythm: exact-median baselines per hour-of-week class,
    // residual gate at 3× the global residual MAD. CUSUM's
    // level-drift complement.
    QuerySpec("events_seasonal_outliers", (s, d) =>
      graft.streaming.EventPipeline.seasonalOutliers(
        table(s, d, "events"), k = 3)
        .orderBy("hour_ts"),
      """WITH hx AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |hw AS (
        |  SELECT hour_ts, n_events,
        |         CAST(dayofweek(hour_ts) * 24 + hour(hour_ts) AS INT) AS how
        |  FROM hx),
        |b AS (
        |  SELECT how, quantile_cont(n_events, 0.5) AS baseline
        |  FROM hw GROUP BY 1),
        |r AS (
        |  SELECT hw.hour_ts, hw.n_events, b.baseline,
        |         hw.n_events - b.baseline AS resid
        |  FROM hw JOIN b USING (how)),
        |m AS (SELECT quantile_cont(abs(resid), 0.5) AS mad FROM r)
        |SELECT hour_ts, n_events, round(baseline, 6) AS baseline,
        |       round(resid, 6) AS resid,
        |       abs(resid) > (SELECT mad FROM m) * 3 AS outlier
        |FROM r ORDER BY hour_ts""".stripMargin),
    // CUSUM change-point card (Page 1954) over the hourly event rate
    // — accumulates small sustained drifts EWMA's level threshold
    // misses. Sequential recurrence re-expressed as the closed form
    // c_t − min(0, running-min c) so it's two windows on the BOUNDED
    // hours relation, never a corpus sort. Drift allowance k=15/h,
    // alarm h=30.
    QuerySpec("events_cusum_hourly", (s, d) =>
      graft.streaming.EventPipeline.cusumHourly(
        table(s, d, "events"), driftK = 15L, alarmH = 30L)
        .orderBy("hour_ts"),
      """WITH hx AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT hour_ts, n_events,
        |         sum(n_events - 15) OVER (ORDER BY hour_ts) AS cum
        |  FROM hx),
        |m AS (
        |  SELECT hour_ts, n_events, cum,
        |         min(cum) OVER (ORDER BY hour_ts) AS mn
        |  FROM c)
        |SELECT hour_ts, n_events,
        |       CAST(cum - least(mn, 0) AS BIGINT) AS cusum,
        |       (cum - least(mn, 0)) > 30 AS alarm
        |FROM m ORDER BY hour_ts""".stripMargin),
    // Binary-segmentation changepoints (depth 2) over the hourly
    // rate: exact integer between-variance gains from prefix sums,
    // IEEE-double argmax with position tie-break — CUSUM's offline
    // complement, the elbow read.
    QuerySpec("events_changepoints", (s, d) =>
      graft.streaming.EventPipeline.binarySegmentation(
        table(s, d, "events"), levels = 2),
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
        |hourly AS (SELECT date_trunc('hour', ts) AS hr,
        |                  CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1),
        |pre AS (SELECT hr, c,
        |        CAST(row_number() OVER (ORDER BY hr) AS BIGINT) AS pos,
        |        CAST(sum(c) OVER (ORDER BY hr) AS BIGINT) AS cs
        |        FROM hourly),
        |tot AS (SELECT CAST(max(pos) AS BIGINT) AS h,
        |               CAST(sum(c) AS BIGINT) AS stot FROM pre),
        |g1 AS (
        |  SELECT p.pos,
        |         CAST(p.cs AS HUGEINT) * (t.h - p.pos) -
        |           CAST(t.stot - p.cs AS HUGEINT) * p.pos AS d,
        |         p.pos * (t.h - p.pos) AS den
        |  FROM pre p, tot t WHERE p.pos < t.h),
        |b1 AS (SELECT pos FROM (
        |         SELECT pos, CAST(d * d AS DOUBLE) / CAST(den AS DOUBLE) AS score
        |         FROM g1)
        |       ORDER BY score DESC, pos LIMIT 1),
        |g2l AS (
        |  SELECT p.pos,
        |         CAST(p.cs AS HUGEINT) * (b.pos - p.pos) -
        |           CAST(ch.cs - p.cs AS HUGEINT) * p.pos AS d,
        |         p.pos * (b.pos - p.pos) AS den
        |  FROM pre p, b1 b JOIN pre ch ON ch.pos = b.pos
        |  WHERE p.pos < b.pos),
        |b2l AS (SELECT pos FROM (
        |          SELECT pos, CAST(d * d AS DOUBLE) / CAST(den AS DOUBLE) AS score
        |          FROM g2l)
        |        ORDER BY score DESC, pos LIMIT 1),
        |g2r AS (
        |  SELECT p.pos,
        |         CAST(p.cs - ch.cs AS HUGEINT) * (t.h - p.pos) -
        |           CAST(t.stot - p.cs AS HUGEINT) * (p.pos - b.pos) AS d,
        |         (p.pos - b.pos) * (t.h - p.pos) AS den
        |  FROM pre p, b1 b JOIN pre ch ON ch.pos = b.pos, tot t
        |  WHERE p.pos > b.pos AND p.pos < t.h),
        |b2r AS (SELECT pos FROM (
        |          SELECT pos, CAST(d * d AS DOUBLE) / CAST(den AS DOUBLE) AS score
        |          FROM g2r)
        |        ORDER BY score DESC, pos LIMIT 1),
        |cuts AS (
        |  SELECT 1 AS level, CAST(1 AS BIGINT) AS lo_pos, t.h AS hi_pos,
        |         b.pos AS split_pos
        |  FROM b1 b, tot t
        |  UNION ALL
        |  SELECT 2, CAST(1 AS BIGINT), b.pos, l.pos FROM b2l l, b1 b
        |  UNION ALL
        |  SELECT 2, b.pos + 1, t.h, r.pos FROM b2r r, b1 b, tot t)
        |SELECT CAST(level AS BIGINT) AS level,
        |       plo.hr AS lo_hour, phi.hr AS hi_hour, ps.hr AS split_hour,
        |       hi_pos - lo_pos + 1 AS n_hours
        |FROM cuts
        |JOIN pre plo ON plo.pos = cuts.lo_pos
        |JOIN pre phi ON phi.pos = cuts.hi_pos
        |JOIN pre ps ON ps.pos = cuts.split_pos
        |ORDER BY level, lo_hour""".stripMargin),
    // As-of join: each click matched to the user's most recent prior
    // view (oracle = DuckDB's native ASOF JOIN).
    QuerySpec("events_asof", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = graft.streaming.EventPipeline.normalizeTs(table(s, d, "events"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val views = ev.filter(col("event_type") === "view")
        .withColumn("__rn", row_number().over(
          Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)))
        .filter(col("__rn") === 1)
        .select("user_id", "ts", "value")
      TemporalJoins.asOfJoin(clicks, views, "user_id", "ts", Seq("value"))
        .orderBy("user_id", "ts", "event_id")
    },
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |clicks AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |    FROM ev WHERE event_type = 'view')
        |  WHERE rn = 1)
        |SELECT c.user_id, c.ts, c.event_id, v.ts AS matched_ts, v.value AS matched_value
        |FROM clicks c ASOF JOIN views v ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.user_id, c.ts, c.event_id""".stripMargin),
    // Exact two-sample KS statistic between the click and view value
    // distributions (cents grid): the classic drift gate. Histogram +
    // two-level cumulative counts, never an unpartitioned window.
    QuerySpec("events_ks_drift", (s, d) =>
      StatTests.ksTwoSample(
        table(s, d, "events").select(col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents")),
        "event_type", "cents", "click", "view"),
      // Exact KS replay: cumulative counts over the pooled cents grid,
      // max |Ca·nb − Cb·na| floored once (floor of max = max of floors).
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |h AS (
        |  SELECT cents,
        |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
        |  FROM ev GROUP BY 1),
        |c AS (
        |  SELECT cents, sum(ca) OVER (ORDER BY cents) AS cca,
        |         sum(cb) OVER (ORDER BY cents) AS ccb
        |  FROM h),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |             CAST(sum(cb) AS BIGINT) AS n_b FROM h)
        |SELECT t.n_a, t.n_b,
        |       CAST((1000000 * max(abs(CAST(cca AS HUGEINT) * t.n_b -
        |                                CAST(ccb AS HUGEINT) * t.n_a)))
        |            // (CAST(t.n_a AS HUGEINT) * t.n_b) AS BIGINT) AS ks_micro
        |FROM c, t GROUP BY t.n_a, t.n_b""".stripMargin),
    // First/last-touch conversion attribution: converting users credit
    // their first event ever and the last non-purchase event before
    // the first purchase (none → the "direct" bucket); argmin/argmax
    // of the total (ts, event_id) order, deterministic under ties.
    QuerySpec("events_attribution", (s, d) =>
      graft.streaming.EventPipeline.attribution(
        table(s, d, "events"), conversionType = "purchase"),
      // Attribution replayed: first purchase per user, first-touch and
      // strictly-before last-touch via the same (ts, event_id) total
      // order, direct bucket by anti membership.
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events),
        |fp AS (
        |  SELECT user_id, ts AS pts, event_id AS pid FROM ev
        |  WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) = 1),
        |ft AS (
        |  SELECT ev.user_id, ev.event_type FROM ev JOIN fp USING (user_id)
        |  QUALIFY row_number() OVER (PARTITION BY ev.user_id
        |    ORDER BY ev.ts, ev.event_id) = 1),
        |lt AS (
        |  SELECT ev.user_id, ev.event_type FROM ev JOIN fp USING (user_id)
        |  WHERE (ev.ts < fp.pts OR (ev.ts = fp.pts AND ev.event_id < fp.pid))
        |    AND ev.event_type <> 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY ev.user_id
        |    ORDER BY ev.ts DESC, ev.event_id DESC) = 1),
        |ln AS (
        |  SELECT fp.user_id, '(none)' AS event_type FROM fp
        |  WHERE fp.user_id NOT IN (SELECT user_id FROM lt)),
        |allr AS (
        |  SELECT 'first_touch' AS touch, event_type, user_id FROM ft
        |  UNION ALL SELECT 'last_touch', event_type, user_id FROM lt
        |  UNION ALL SELECT 'last_touch', event_type, user_id FROM ln)
        |SELECT touch, event_type, CAST(count(*) AS BIGINT) AS n_users
        |FROM allr GROUP BY 1, 2 ORDER BY touch, event_type""".stripMargin),
    // Exact 1-D Wasserstein (earth-mover) distance on the same cents
    // grid — the MAGNITUDE-sensitive drift metric next to KS (max
    // discrepancy) and PSI (bin log-odds): how far the distribution
    // moved in metric units. Same two-level cumulative scan; the gap
    // column adds one bounded block-minima boundary relation.
    QuerySpec("events_w1_drift", (s, d) =>
      StatTests.wasserstein1(
        table(s, d, "events").select(col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents")),
        "event_type", "cents", "click", "view"),
      // W1 replay: one global cumulative window over the bounded cents
      // grid plus lead() for the gap; identical exact-integer area sum.
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |h AS (
        |  SELECT cents,
        |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
        |  FROM ev GROUP BY 1),
        |c AS (
        |  SELECT cents, sum(ca) OVER (ORDER BY cents) AS cca,
        |         sum(cb) OVER (ORDER BY cents) AS ccb,
        |         lead(cents) OVER (ORDER BY cents) AS nxt
        |  FROM h),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |             CAST(sum(cb) AS BIGINT) AS n_b FROM h)
        |SELECT t.n_a, t.n_b,
        |       CAST((CAST(1000000 AS HUGEINT) *
        |             sum(abs(CAST(cca AS HUGEINT) * t.n_b -
        |                     CAST(ccb AS HUGEINT) * t.n_a) *
        |                 (coalesce(nxt, cents) - cents)))
        |            // (CAST(t.n_a AS HUGEINT) * t.n_b) AS BIGINT) AS w1_micro
        |FROM c, t GROUP BY t.n_a, t.n_b""".stripMargin),
    // Per-decile shift table on the same grid — WHERE the distribution
    // moved: exact order statistics at rank ⌈q·n/10⌉ per group and
    // their signed gaps, separating a location shift from a tail-only
    // regression.
    QuerySpec("events_quantile_shift", (s, d) =>
      StatTests.quantileShift(
        table(s, d, "events").select(col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents")),
        "event_type", "cents", "click", "view"),
      // Quantile-shift replay: one cumulative window over the cents
      // grid, rank ⌈q·n/10⌉ per side, min-value-at-rank per decile.
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |h AS (
        |  SELECT cents,
        |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
        |  FROM ev GROUP BY 1),
        |c AS (
        |  SELECT cents, sum(ca) OVER (ORDER BY cents) AS cca,
        |         sum(cb) OVER (ORDER BY cents) AS ccb
        |  FROM h),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |             CAST(sum(cb) AS BIGINT) AS nb FROM h),
        |qs AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS q),
        |va AS (SELECT q, min(cents) AS v_a
        |       FROM c, t, qs WHERE cca >= (q * na + 9) // 10 GROUP BY q),
        |vb AS (SELECT q, min(cents) AS v_b
        |       FROM c, t, qs WHERE ccb >= (q * nb + 9) // 10 GROUP BY q)
        |SELECT va.q, va.v_a, vb.v_b, vb.v_b - va.v_a AS shift
        |FROM va JOIN vb USING (q) ORDER BY q""".stripMargin),
    // Population stability index, view (reference) vs purchase
    // (comparison), 10 equal-width bins over the reference's cents
    // range — the scorecard drift card; exact integral terms.
    QuerySpec("events_psi", (s, d) =>
      StatTests.psi(
        table(s, d, "events").select(col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents")),
        "event_type", "cents", ref = "view", cmp = "purchase"),
      // PSI replay: same reference-range equal-width bins (clamped), the
      // same exact λ·10⁶ integer and one floored division per bin.
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
        |bounds AS (SELECT min(cents) AS lo, max(cents) AS hi
        |           FROM ev WHERE event_type = 'view'),
        |binned AS (
        |  SELECT event_type,
        |         least(9, greatest(0, CAST(((cents - lo) * 10)
        |           // greatest(hi - lo + 1, 1) AS INT))) AS bin
        |  FROM ev, bounds),
        |cnts AS (
        |  SELECT bin,
        |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cr,
        |         sum(CASE WHEN event_type = 'view' THEN 0 ELSE 1 END) AS cc
        |  FROM binned GROUP BY 1),
        |grid AS (
        |  SELECT t.bin, coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
        |  FROM (SELECT CAST(range AS BIGINT) AS bin FROM range(10)) t
        |  LEFT JOIN cnts ON cnts.bin = t.bin),
        |tot AS (SELECT sum(cr) + 10 AS r, sum(cc) + 10 AS c,
        |               CAST(sum(cr) AS BIGINT) AS n_ref,
        |               CAST(sum(cc) AS BIGINT) AS n_cmp FROM grid),
        |terms AS (
        |  SELECT n_ref, n_cmp,
        |         CAST(cr + 1 AS HUGEINT) * c AS a,
        |         CAST(cc + 1 AS HUGEINT) * r AS b,
        |         CAST(r AS HUGEINT) * c AS rc
        |  FROM grid, tot)
        |SELECT n_ref, n_cmp,
        |       CAST(sum(((a - b) * CAST(CAST(round(log10(a), 6) AS DECIMAL(28,6))
        |           * 1000000 - CAST(round(log10(b), 6) AS DECIMAL(28,6))
        |           * 1000000 AS HUGEINT) * 2302585)
        |         // (rc * CAST(1000000000000 AS HUGEINT))) AS BIGINT) AS psi_micro
        |FROM terms GROUP BY 1, 2""".stripMargin),
    // Mann–Whitney U with midrank ties (doubled-rank integers) and the
    // tie-corrected normal z — the rank-sum A/B test on a skewed
    // metric where the t-test's normality assumption fails.
    QuerySpec("events_mann_whitney", (s, d) =>
      StatTests.mannWhitney(
        table(s, d, "events").select(col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents")),
        "event_type", "cents", "click", "purchase"),
      // Mann–Whitney replay: doubled midranks on the cents histogram,
      // exact u2, tie-corrected z in doubles from the same integers.
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
        |h AS (
        |  SELECT cents,
        |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
        |  FROM ev GROUP BY 1),
        |c AS (
        |  SELECT cents, ca, cb, ca + cb AS t,
        |         sum(ca + cb) OVER (ORDER BY cents) AS tcum
        |  FROM h),
        |a AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
        |         sum(CAST(ca AS HUGEINT) * (2 * (tcum - t) + t + 1)) AS r2a,
        |         sum(CAST(t AS HUGEINT) * t * t - t) AS ties
        |  FROM c)
        |SELECT n_a, n_b,
        |       CAST(2 * CAST(n_a AS HUGEINT) * n_b
        |            + CAST(n_a AS HUGEINT) * (n_a + 1) - r2a AS BIGINT) AS u2,
        |       round((CAST(u2 AS DOUBLE) / 2 - CAST(n_a AS DOUBLE) * n_b / 2)
        |         / sqrt(CAST(n_a AS DOUBLE) * n_b / 12 *
        |             ((n_a + n_b + 1) - CAST(ties AS DOUBLE) /
        |               (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))), 6) AS z
        |FROM a""".stripMargin),
    // CUPED variance reduction: per-user pre-period spend (before the
    // midpoint timestamp) as the covariate for post-period spend —
    // the experiment-sensitivity card (Deng et al. 2013).
    // Fisher randomization test on per-user spend (odd vs even user
    // ids — a true-null split, so p should be comfortably interior):
    // 199 seeded md5-rank re-assignments over the bounded USER
    // relation, exact cross-multiplied integer statistic, add-one
    // Monte-Carlo p. The variance-model-free significance companion
    // to events_cuped/events_mannwhitney.
    QuerySpec("events_permutation_test", (s, d) => {
      val units = table(s, d, "events")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("y"))
        .select(col("user_id"),
          when(col("user_id") % 2 === 0, "a").otherwise("b").as("grp"),
          col("y"))
      Bootstrap.twoSampleRandomizationTest(units, "grp", "y", "a", "b",
        "user_id", trials = 199)
    },
      """WITH u AS (
        |  SELECT user_id,
        |         CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS grp,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN grp = 'a' THEN y ELSE 0 END) AS HUGEINT) AS sa,
        |         CAST(sum(CASE WHEN grp = 'b' THEN y ELSE 0 END) AS HUGEINT) AS sb,
        |         CAST(sum(y) AS HUGEINT) AS st
        |  FROM u),
        |obs AS (SELECT coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
        |               coalesce(st, 0) AS st,
        |               coalesce(abs(sa * n_b - sb * n_a), 0) AS dobs FROM m),
        |tt AS (SELECT unnest(range(1, 200)) AS t),
        |r AS (
        |  SELECT tt.t AS t, u.y,
        |         row_number() OVER (PARTITION BY tt.t
        |           ORDER BY md5('perm:42:' || CAST(tt.t AS VARCHAR) || ':' ||
        |                        CAST(u.user_id AS VARCHAR)),
        |                    CAST(u.user_id AS VARCHAR)) AS rn
        |  FROM u CROSS JOIN tt),
        |tr AS (
        |  -- the rank condition lives INSIDE the sum (the operator's
        |  -- degenerate-total shape): an empty pseudo-A still yields its
        |  -- trial row with sat = 0
        |  SELECT r.t, CAST(sum(CASE WHEN r.rn <= obs.n_a THEN r.y ELSE 0 END)
        |                AS HUGEINT) AS sat
        |  FROM r, obs GROUP BY r.t),
        |ge AS (
        |  SELECT coalesce(CAST(sum(CASE WHEN
        |           abs(tr.sat * obs.n_b - (obs.st - tr.sat) * obs.n_a)
        |             >= obs.dobs THEN 1 ELSE 0 END) AS BIGINT), 199) AS n_ge
        |  FROM tr, obs)
        |SELECT obs.n_a, obs.n_b, CAST(obs.dobs AS BIGINT) AS d_obs,
        |       ge.n_ge,
        |       CAST((1000000 * (1 + ge.n_ge)) // 200 AS BIGINT) AS p_micro
        |FROM obs, ge""".stripMargin),
    // Poisson bootstrap CI on per-user spend: 199 hash-weighted
    // resamples in ONE aggregate (no per-trial rank — weights are
    // row-independent), integral micro means, type-1 quantile pair at
    // ranks ceil(.025 T)/ceil(.975 T). The CI companion to
    // events_permutation_test's p-value.
    QuerySpec("events_bootstrap_ci", (s, d) => {
      val units = table(s, d, "events")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      Bootstrap.poissonBootstrapCi(units, "user_id", "y", reps = 199)
    },
      // CUPED replay: exact integer moment sums in HUGEINT, theta and
      // variances as the same double formula, rounded once.
      // bootstrap weights re-derived from the SAME hash16/PoissonCum
      // machinery as eval_bootstrap (Bootstrap.scala's one table)
      """WITH u AS (
        |  SELECT user_id AS id,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS score
        |  FROM events GROUP BY user_id),
        |m0 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_units,
        |         round(CAST(sum(score) AS DOUBLE) / count(*), 6) AS mean_score
        |  FROM u),
        |grid AS (
        |  SELECT id, score, CAST(r AS BIGINT) AS rep
        |  FROM u, unnest(generate_series(0, 198)) t(r)),
        |h AS (
        |  SELECT rep, score,
        |         list_sum(list_transform(generate_series(1, 4), i ->
        |           (strpos('0123456789abcdef',
        |              substr(md5(CAST(id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)),
        |                     CAST(i AS INT), 1)) - 1)
        |           * CAST(16 ** (4 - i) AS BIGINT))) AS hv
        |  FROM grid),
        |mm AS (
        |  SELECT rep, score,
        |         CASE WHEN hv < 24113 THEN 0 WHEN hv < 48226 THEN 1
        |              WHEN hv < 60273 THEN 2 WHEN hv < 64292 THEN 3
        |              WHEN hv < 65296 THEN 4 WHEN hv < 65497 THEN 5
        |              WHEN hv < 65531 THEN 6 WHEN hv < 65535 THEN 7
        |              ELSE 8 END AS mult
        |  FROM h),
        |tr AS (
        |  SELECT rep,
        |         round(CAST(sum(mult * score) AS DOUBLE) / sum(mult), 6) AS mean
        |  FROM mm GROUP BY rep HAVING sum(mult) > 0),
        |rk AS (
        |  SELECT rep, mean, row_number() OVER (ORDER BY mean, rep) AS rn,
        |         count(*) OVER () AS n_reps
        |  FROM tr),
        |ci AS (
        |  SELECT CAST(max(n_reps) AS BIGINT) AS n_reps,
        |         min(mean) AS lo, max(mean) AS hi
        |  FROM rk WHERE rn = (n_reps * 25 + 999) // 1000
        |             OR rn = (n_reps * 975 + 999) // 1000
        |  HAVING count(*) > 0)
        |SELECT m0.n_units, ci.n_reps, m0.mean_score, ci.lo, ci.hi
        |FROM m0, ci""".stripMargin),
    QuerySpec("events_cuped", (s, d) => {
      val ev = table(s, d, "events").select(col("user_id"),
        // NTZ → TZ cast shifts every row by the same session-zone
        // constant, which cancels in the `us < mid` split
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("__us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("__cents"))
      val mid = ev.agg(expr("(min(__us) + max(__us)) div 2").as("__mid"))
      val units = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(sum(when(col("__us") < col("__mid"), col("__cents"))
          .otherwise(0L)).as("x"),
          sum(when(col("__us") >= col("__mid"), col("__cents"))
            .otherwise(0L)).as("y"))
      StatTests.cuped(units, "x", "y")
    },
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |units AS (
        |  SELECT user_id,
        |         sum(CASE WHEN us < mid THEN cents ELSE 0 END) AS x,
        |         sum(CASE WHEN us >= mid THEN cents ELSE 0 END) AS y
        |  FROM ev, mid GROUP BY 1),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM units),
        |s AS (
        |  SELECT n, CAST(n AS HUGEINT) * sxx - sx * sx AS sxx2,
        |         CAST(n AS HUGEINT) * sxy - sx * sy AS sxy2,
        |         CAST(n AS HUGEINT) * syy - sy * sy AS syy2
        |  FROM m)
        |SELECT n AS n_units,
        |  CASE WHEN sxx2 > 0
        |       THEN round(CAST(sxy2 AS DOUBLE) / CAST(sxx2 AS DOUBLE), 6)
        |       ELSE 0.0 END AS theta,
        |  round(CAST(syy2 AS DOUBLE) / (CAST(n AS DOUBLE) * n * n), 6) AS var_y,
        |  round((CAST(syy2 AS DOUBLE) - 2 * theta * CAST(sxy2 AS DOUBLE)
        |         + theta * theta * CAST(sxx2 AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * n * n), 6) AS var_adj,
        |  CASE WHEN var_y > 0
        |       THEN CAST(round((1 - var_adj / var_y) * 1000000) AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS reduction_micro
        |FROM s""".stripMargin),
    // NINTH streaming mode — COMPLETE output: unwindowed global totals
    // re-emitted whole each micro-batch over a bounded group domain;
    // the final table must equal the batch group-by exactly.
    QuerySpec("events_totals_streamed", (s, d) =>
      graft.streaming.EventPipeline.streamedTypeTotalsComplete(
        s, table(s, d, "events"), fixtureKey = Some(d)).orderBy("event_type"),
      // Complete-mode totals are order-free batch equality by
      // construction: the mode re-emits the whole aggregate.
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
      scalingBound = StreamedScaling),
    // TENTH streaming mode — Update output: per-batch delta re-emits
    // of changed windowed counts through a real multi-batch run; the
    // parity gate is the max over each key's monotone emissions
    // (order-free by construction; no watermark so no order-dependent
    // drop set). Completes the OutputMode matrix: Append family,
    // foreachBatch, Complete, Update.
    QuerySpec("events_update_streamed", (s, d) =>
      graft.streaming.EventPipeline.streamedWindowedUpdateParity(
        s, table(s, d, "events"), fixtureKey = Some(d))
        .orderBy("window_start", "event_type"),
      // Update-mode gate: the max over a key's monotone count emissions
      // IS the final count — i.e. the plain batch group-by.
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |       event_type, count(*) AS n_events
        |FROM ev GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
      scalingBound = StreamedScaling),
    // ELEVENTH streaming mode — WARM-START initial state
    // (StatefulProcessorWithInitialState): a batch backfill aggregate
    // seeds transformWithState's per-key state, only the other half
    // of the corpus streams (RocksDB, Update output, multi-batch),
    // and the final totals must equal the batch aggregate over the
    // WHOLE corpus — the backfill→tail handoff with nothing lost or
    // double-counted. Order-free parity: n_events is strictly
    // increasing per key emission.
    QuerySpec("events_warmstart_streamed", (s, d) =>
      graft.streaming.EventPipeline.streamedWarmStartParity(
        s, table(s, d, "events"), fixtureKey = Some(d))
        .orderBy("user_id"),
      """SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
      scalingBound = StreamedScaling),
    // TWELFTH streaming mode — MAP + LIST state: per-user event-type
    // histogram in a MapState (sub-keyed updates touch only the
    // batch's types) and the user's 3-largest cents in a ListState
    // (bounded ranked buffer, associative merge); both metrics are
    // monotone per key, so the order-free gate is max over emissions,
    // replayed in batch by the oracle's count + top-3 window.
    QuerySpec("events_mapstate_streamed", (s, d) =>
      graft.streaming.EventPipeline.streamedTypeHistParity(
        s, table(s, d, "events"), fixtureKey = Some(d))
        .orderBy("user_id", "event_type"),
      // Warm-start handoff replayed: the final totals are simply the
      // batch aggregate over ALL events, whatever split streamed.
      """WITH h AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_type
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY CAST(round(value * 100) AS BIGINT) DESC) AS rn
        |  FROM events),
        |t AS (
        |  SELECT user_id, CAST(sum(cents) AS BIGINT) AS top3_cents
        |  FROM c WHERE rn <= 3 GROUP BY user_id)
        |SELECT h.user_id, h.event_type, h.n_type, t.top3_cents
        |FROM h JOIN t USING (user_id)
        |ORDER BY user_id, event_type""".stripMargin,
      // r17: streamed family drifted +20–60% driver-to-driver
      scalingBound = StreamedScaling, isolate = true),
    // Frequent 3-step behavior paths — the sequence-mining card one
    // level up from the Markov transition matrix; contiguous trigrams
    // keep it one user-partitioned window pass.
    QuerySpec("events_paths3", (s, d) =>
      graft.streaming.EventPipeline.typePaths3(
        table(s, d, "events"), minSupport = 5L),
      // Trigram paths replayed: two leads over the same user window.
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events),
        |tri AS (
        |  SELECT event_type AS t1,
        |         lead(event_type, 1) OVER w AS t2,
        |         lead(event_type, 2) OVER w AS t3
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING count(*) >= 5
        |ORDER BY n DESC, t1, t2, t3""".stripMargin),
    // Difference-in-differences on a seeded 50/50 user split × the
    // midpoint time split — exact floored micro cell means.
    QuerySpec("events_did", (s, d) => {
      val ev = table(s, d, "events").select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("__us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
      val mid = ev.agg(expr("(min(__us) + max(__us)) div 2").as("__mid"))
      val cells = ev.crossJoin(broadcast(mid))
        .select((DatasetSplit.bucket(col("user_id")) < 50).as("treated"),
          (col("__us") >= col("__mid")).as("post"), col("cents"))
      StatTests.diffInDiff(cells, "treated", "post", "cents")
    },
      // DiD replayed: md5 user split × midpoint time split, floored
      // micro cell means, integer difference.
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |cells AS (
        |  SELECT CAST(list_sum(list_transform(generate_series(1, 4),
        |           i -> (strpos('0123456789abcdef',
        |                   substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        |                * CAST(16 ** (4 - i) AS BIGINT))) % 100 AS BIGINT) < 50
        |           AS treated,
        |         us >= mid AS post, cents
        |  FROM ev, mid),
        |m AS (
        |  SELECT
        |    sum(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END) AS n_tpre,
        |    sum(CASE WHEN treated AND post THEN 1 ELSE 0 END) AS n_tpost,
        |    sum(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END) AS n_cpre,
        |    sum(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END) AS n_cpost,
        |    sum(CASE WHEN treated AND NOT post THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_tpre,
        |    sum(CASE WHEN treated AND post THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_tpost,
        |    sum(CASE WHEN NOT treated AND NOT post THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_cpre,
        |    sum(CASE WHEN NOT treated AND post THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_cpost
        |  FROM cells),
        |mm AS (
        |  SELECT CAST(n_tpre AS BIGINT) AS n_tpre, CAST(n_tpost AS BIGINT) AS n_tpost,
        |         CAST(n_cpre AS BIGINT) AS n_cpre, CAST(n_cpost AS BIGINT) AS n_cpost,
        |    CAST(CASE WHEN n_tpre > 0 THEN (1000000 * s_tpre) // n_tpre ELSE 0 END AS BIGINT) AS m_tpre,
        |    CAST(CASE WHEN n_tpost > 0 THEN (1000000 * s_tpost) // n_tpost ELSE 0 END AS BIGINT) AS m_tpost,
        |    CAST(CASE WHEN n_cpre > 0 THEN (1000000 * s_cpre) // n_cpre ELSE 0 END AS BIGINT) AS m_cpre,
        |    CAST(CASE WHEN n_cpost > 0 THEN (1000000 * s_cpost) // n_cpost ELSE 0 END AS BIGINT) AS m_cpost
        |  FROM m)
        |SELECT n_tpre, n_tpost, n_cpre, n_cpost,
        |       m_tpre, m_tpost, m_cpre, m_cpost,
        |       m_tpost - m_tpre - m_cpost + m_cpre AS did_micro
        |FROM mm""".stripMargin),
    // Minimal detectable effect at the observed sizes and pooled
    // variance — the "big enough to read a p-value" gate.
    QuerySpec("events_ab_power", (s, d) =>
      StatTests.abPower(
        table(s, d, "events").select(col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents")),
        "event_type", "cents", "click", "view"),
      // Power replayed: exact DECIMAL variance sums, the same fixed
      // z-constant, one sqrt.
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN event_type = 'click' THEN CAST(cents AS HUGEINT) ELSE 0 END) AS sa,
        |    sum(CASE WHEN event_type = 'view' THEN CAST(cents AS HUGEINT) ELSE 0 END) AS sb,
        |    sum(CASE WHEN event_type = 'click' THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS saa,
        |    sum(CASE WHEN event_type = 'view' THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS sbb
        |  FROM ev),
        |v AS (
        |  SELECT n_a, n_b,
        |         round((CAST(CAST(n_a AS HUGEINT) * saa - sa * sa AS DOUBLE) / n_a
        |                + CAST(CAST(n_b AS HUGEINT) * sbb - sb * sb AS DOUBLE) / n_b)
        |               / (n_a + n_b - 2), 6) AS pooled_var
        |  FROM m)
        |SELECT n_a, n_b, pooled_var,
        |       round(2.801585 * sqrt(pooled_var * (1.0 / n_a + 1.0 / n_b)), 6) AS mde
        |FROM v""".stripMargin),
    // Robust means (plain / 5%-trimmed / winsorized) — all exact from
    // the cents histogram and its order statistics.
    QuerySpec("events_robust_mean", (s, d) =>
      StatTests.robustMean(
        table(s, d, "events").select(
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents")), "cents"),
      // Robust means replayed: window cumulative on the cents histogram,
      // rank-interval overlap for the trim, clamp for the winsorization.
      """WITH h AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |cu AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM h),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |               CAST((sum(c) * 5) // 100 AS BIGINT) AS lo_cut FROM h),
        |plo AS (SELECT min(v) AS p_lo FROM cu, tot WHERE cum >= lo_cut + 1),
        |phi AS (SELECT min(v) AS p_hi FROM cu, tot WHERE cum >= n - lo_cut),
        |terms AS (
        |  SELECT n, lo_cut, p_lo, p_hi,
        |         CAST(v AS HUGEINT) * c AS sv,
        |         CAST(v AS HUGEINT) * greatest(0, least(cum, n - lo_cut)
        |           - greatest(cum - c, lo_cut)) AS tv,
        |         CAST(least(greatest(v, p_lo), p_hi) AS HUGEINT) * c AS wv
        |  FROM cu, tot, plo, phi)
        |SELECT n, lo_cut, p_lo, p_hi,
        |       CAST((1000000 * sum(sv)) // n AS BIGINT) AS mean_micro,
        |       CAST(CASE WHEN n - 2 * lo_cut > 0
        |            THEN (1000000 * sum(tv)) // (n - 2 * lo_cut)
        |            ELSE 0 END AS BIGINT) AS trimmed_mean_micro,
        |       CAST((1000000 * sum(wv)) // n AS BIGINT) AS winsorized_mean_micro
        |FROM terms GROUP BY 1, 2, 3, 4""".stripMargin),
    // Split conformal prediction at α = 10%: per-event-type floor-mean
    // predictor from the train split, order-statistic radius from the
    // calibration split, distribution-free ŷ ± q̂ intervals on test.
    QuerySpec("events_conformal_card", (s, d) =>
      Conformal.card(
        table(s, d, "events").select(col("event_id"), col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents")),
        "event_id", "event_type", "cents"),
      // Split-conformal replay: md5 split buckets, floor-mean predictor,
      // row_number order statistic at rank r, integral coverage.
      (conformalCtes +
        """
          |SELECT q.n_cal, q.r, q.qhat, CAST(count(*) AS BIGINT) AS n_test,
          |       CAST((1000000 * sum(CASE WHEN abs(cents - yhat) <= qhat
          |                                THEN 1 ELSE 0 END)) // count(*)
          |            AS BIGINT) AS coverage_micro
          |FROM t, q GROUP BY 1, 2, 3""".stripMargin)),
    QuerySpec("events_conformal_intervals", (s, d) =>
      Conformal.intervals(
        table(s, d, "events").select(col("event_id"), col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents")),
        "event_id", "event_type", "cents"),
      (conformalCtes +
        """
          |SELECT t.event_id, t.event_type, t.cents, t.yhat,
          |       CAST(yhat - qhat AS BIGINT) AS lo,
          |       CAST(yhat + qhat AS BIGINT) AS hi,
          |       abs(cents - yhat) <= qhat AS covered
          |FROM t, q ORDER BY t.event_id""".stripMargin)),
    // Range self-join: event pairs per user within a 300 s window,
    // bucketed equality join (never an inequality-only join).
    QuerySpec("events_range_join", (s, d) => {
      val ev = graft.streaming.EventPipeline.normalizeTs(table(s, d, "events"))
        .select("event_id", "user_id", "ts")
      TemporalJoins.rangeSelfJoin(ev, "user_id", "ts", "event_id", rangeSeconds = 300)
        .orderBy("a_id", "b_id")
    },
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id, a.ts AS a_ts, b.ts AS b_ts
        |FROM ev a JOIN ev b ON a.user_id = b.user_id AND b.ts > a.ts
        |  AND b.ts <= a.ts + INTERVAL 300 SECOND
        |ORDER BY a_id, b_id""".stripMargin),
    // Stream-stream join (batch mode of the watermarked two-stream
    // join): clicks attributed to same-user views ≤ 600 s older. The
    // batch plan is an equality join on user_id with a time post-filter
    // — fine while per-user event counts are bounded; at 100 TB batch
    // scale use TemporalJoins.rangeSelfJoin's time-bucketed shape
    // instead (the streaming mode bounds state by the watermark).
    QuerySpec("events_stream_join", (s, d) => {
      val ev = table(s, d, "events")
      graft.streaming.EventPipeline.clickViewJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"),
        watermark = "10 minutes", horizonSeconds = 600)
        .orderBy("click_id", "view_id")
    },
      """SELECT c.event_id AS click_id, c.user_id,
        |       CAST(c.ts AS TIMESTAMP) AS click_ts,
        |       v.event_id AS view_id, CAST(v.ts AS TIMESTAMP) AS view_ts,
        |       v.value AS view_value
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 600 SECOND
        |ORDER BY click_id, view_id""".stripMargin),
    // Z-order (Morton) clustering key over (user bucket, time-of-day
    // bucket): the data-skipping layout key, oracle-checked bit for bit.
    QuerySpec("events_zorder", (s, d) => {
      val ev = graft.streaming.EventPipeline.normalizeTs(table(s, d, "events"))
      val userQ = pmod(col("user_id"), lit(256L))
      val timeQ = floor((hour(col("ts")) * 60 + minute(col("ts"))) / 6) // 0..239
      ev.select(col("event_id"),
          DataLayout.zorderKey(Seq(userQ, timeQ), bits = 8).as("zkey"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |       CAST(list_sum(list_transform(generate_series(0, 7),
        |            b -> (((u >> b) & 1) << (2 * b)) + (((t >> b) & 1) << (2 * b + 1))))
        |         AS BIGINT) AS zkey
        |FROM (
        |  SELECT event_id, user_id % 256 AS u,
        |         (date_part('hour', CAST(ts AS TIMESTAMP)) * 60 +
        |          date_part('minute', CAST(ts AS TIMESTAMP))) // 6 AS t
        |  FROM events)
        |ORDER BY event_id""".stripMargin),
    // Hilbert layout key over the same (user, time-of-day) quantization
    // as events_zorder — the stronger clustering key: every unit step
    // along the curve is a grid-neighbor step, so range predicates
    // touch fewer, more contiguous files than Morton order. The oracle
    // unrolls the same 8 rotate/reflect bit-plane iterations as CTEs.
    QuerySpec("events_hilbert", (s, d) => {
      val ev = graft.streaming.EventPipeline.normalizeTs(table(s, d, "events"))
      val userQ = pmod(col("user_id"), lit(256L))
      val timeQ = floor((hour(col("ts")) * 60 + minute(col("ts"))) / 6) // 0..239
      DataLayout.withHilbertKey(
          ev.select(col("event_id"), userQ.as("__u"), timeQ.as("__t")),
          col("__u"), col("__t"), bits = 8, out = "hkey")
        .select("event_id", "hkey")
        .orderBy("event_id")
    },
    {
      val base =
        """WITH h8 AS (
          |  SELECT event_id, user_id % 256 AS x,
          |         (date_part('hour', CAST(ts AS TIMESTAMP)) * 60 +
          |          date_part('minute', CAST(ts AS TIMESTAMP))) // 6 AS y,
          |         CAST(0 AS BIGINT) AS d
          |  FROM events)""".stripMargin
      val steps = (7 to 0 by -1).map { i =>
        val s = 1L << i
        s"""h$i AS (
           |  SELECT event_id,
           |    CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END ELSE x END AS x,
           |    CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END ELSE y END AS y,
           |    d + ${s * s} * xor(3 * rx, ry) AS d
           |  FROM (SELECT event_id, x, y, d,
           |               CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
           |               CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
           |        FROM h${i + 1}))""".stripMargin
      }.mkString(",\n")
      s"$base,\n$steps\n" +
        "SELECT event_id, CAST(d AS BIGINT) AS hkey FROM h0 ORDER BY event_id"
    }),
    // JSON property extraction + rollup.
    QuerySpec("events_json_rollup", (s, d) =>
      graft.streaming.EventPipeline.propsRollup(table(s, d, "events"))
        .orderBy("k"),
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY k ORDER BY k""".stripMargin),
    // Gap-based sessionization (10-minute inactivity gap).
    QuerySpec("events_sessions", (s, d) =>
      graft.streaming.EventPipeline.sessionize(table(s, d, "events"), gapSeconds = 600)
        .orderBy("user_id", "session_idx"),
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |flagged AS (
        |  SELECT event_id, user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                   OR ts - lag(ts) OVER w > INTERVAL 600 SECOND
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM sessions GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin),
    // The SAME sessionization as a real micro-batch stream —
    // flatMapGroupsWithState + event-time timeout, file source/sink,
    // AvailableNow. Emits every session except a user's last when the
    // stream quiets inside its timeout horizon; the oracle replays
    // that closure rule (end + gap < max(ts) − delay, ms clock) over
    // the batch sessionization CTE.
    QuerySpec("events_sessions_streamed", (s, d) =>
      graft.streaming.EventPipeline.sessionsStreamedParity(
        s, s"$d/events.parquet", gapSeconds = 600, watermark = "30 minutes")
        .orderBy("user_id", "session_start"),
      // The streamed sessionization: the batch sessions CTE plus the
      // stream's closure rule — Spark's event-time timeout fires when
      // timeoutTimestamp < watermark, BOTH ON THE MILLISECOND CLOCK
      // (epoch_ms truncates micros exactly like Timestamp.getTime and
      // the watermark tracker), so a user's LAST session is absent when
      // end + gap lands inside the final horizon.
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |wm AS (SELECT epoch_ms(max(ts)) - 1800000 AS w FROM ev),
        |flagged AS (
        |  SELECT event_id, user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                   OR ts - lag(ts) OVER w > INTERVAL 600 SECOND
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM flagged),
        |s AS (
        |  SELECT user_id, session_idx, min(ts) AS session_start,
        |         max(ts) AS session_end, count(*) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM sessions GROUP BY user_id, session_idx),
        |last AS (SELECT user_id, max(session_idx) AS mi FROM s GROUP BY user_id)
        |SELECT s.user_id, s.session_start, s.session_end, s.n_events, s.total_value
        |FROM s JOIN last ON s.user_id = last.user_id, wm
        |WHERE s.session_idx < last.mi
        |   OR epoch_ms(s.session_end) + 600000 < wm.w
        |ORDER BY s.user_id, s.session_start""".stripMargin,
      scalingBound = StreamedScaling),
    // The SAME sessionization on transformWithState (Spark 4's
    // arbitrary-state API, SPARK-45939): typed ValueState + explicit
    // event-time timers over the RocksDB provider — semantically
    // identical closure rule, so the oracle is shared with
    // events_sessions_streamed.
    QuerySpec("events_sessions_tws", (s, d) =>
      graft.streaming.EventPipeline.sessionsTwsParity(
        s, s"$d/events.parquet", gapSeconds = 600, watermark = "30 minutes")
        .orderBy("user_id", "session_start"),
      // transformWithState variant: identical closure rule, shared oracle.
      // NOTE the <=: transformWithState timers fire when expiry <=
      // watermark (non-strict, pinned by the boundary spec), unlike
      // flatMapGroupsWithState's strict < — a real API difference.
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |wm AS (SELECT epoch_ms(max(ts)) - 1800000 AS w FROM ev),
        |flagged AS (
        |  SELECT event_id, user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                   OR ts - lag(ts) OVER w > INTERVAL 600 SECOND
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM flagged),
        |s AS (
        |  SELECT user_id, session_idx, min(ts) AS session_start,
        |         max(ts) AS session_end, count(*) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM sessions GROUP BY user_id, session_idx),
        |last AS (SELECT user_id, max(session_idx) AS mi FROM s GROUP BY user_id)
        |SELECT s.user_id, s.session_start, s.session_end, s.n_events, s.total_value
        |FROM s JOIN last ON s.user_id = last.user_id, wm
        |WHERE s.session_idx < last.mi
        |   OR epoch_ms(s.session_end) + 600000 <= wm.w
        |ORDER BY s.user_id, s.session_start""".stripMargin,
      scalingBound = StreamedScaling),
    // Theil–Sen robust trend: median of pairwise hourly-count slopes
    // per type — the outlier-proof alternative to OLS; quadratic in
    // HOURS only (grid-bounded), one scan of the data.
    QuerySpec("events_theil_sen", (s, d) =>
      graft.streaming.EventPipeline.theilSenTrend(table(s, d, "events"))
        .orderBy("event_type"),
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2),
        |h AS (SELECT event_type,
        |        CAST(epoch(hr) // 3600 AS BIGINT) AS h, c FROM hourly),
        |pairs AS (
        |  SELECT a.event_type, (b.c - a.c) * 1.0 / (b.h - a.h) AS slope
        |  FROM h a JOIN h b ON a.event_type = b.event_type AND b.h > a.h)
        |SELECT event_type, round(median(slope), 6) AS theil_sen_slope,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pairs GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Mann–Kendall trend significance: exact-integer S and 18·Var(S)
    // with tie correction; z and tau on the rounded-double grid.
    QuerySpec("events_mann_kendall", (s, d) =>
      graft.streaming.EventPipeline.mannKendallTrend(table(s, d, "events"))
        .orderBy("event_type"),
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2),
        |h AS (SELECT event_type,
        |        CAST(epoch(hr) // 3600 AS BIGINT) AS h, c FROM hourly),
        |srel AS (
        |  SELECT a.event_type,
        |         CAST(sum(CASE WHEN b.c > a.c THEN 1
        |                       WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM h a JOIN h b ON a.event_type = b.event_type AND b.h > a.h
        |  GROUP BY 1),
        |tg AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS t
        |       FROM h GROUP BY 1, 2),
        |ties AS (
        |  SELECT event_type,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18,
        |         CAST(sum(t) AS BIGINT) AS n
        |  FROM tg GROUP BY 1),
        |j AS (
        |  SELECT s.event_type, s.s, t.n AS n_hours,
        |         n * (n - 1) * (2 * n + 5) - tie18 AS var18
        |  FROM srel s JOIN ties t USING (event_type))
        |SELECT event_type, s, n_hours, var18,
        |       round(CASE WHEN var18 > 0 AND s > 0
        |                    THEN (s - 1) / sqrt(var18 / 18.0)
        |                  WHEN var18 > 0 AND s < 0
        |                    THEN (s + 1) / sqrt(var18 / 18.0)
        |                  ELSE 0.0 END, 6) AS z,
        |       round(2.0 * s / (n_hours * (n_hours - 1)), 6) AS tau
        |FROM j ORDER BY event_type""".stripMargin),
    // Distinct aggregation (two-phase: partial sets map-side, exact).
    QuerySpec("events_user_stats", (s, d) =>
      table(s, d, "events")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy("event_type"),
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Hour-of-day reliability card: Wilson lower bound on the
    // non-error event fraction per ingestion hour — 3/3 clean cannot
    // outrank 960/1000 clean (same generic sourceWilson operator, a
    // different grouping + predicate).
    QuerySpec("events_hour_reliability", (s, d) =>
      TextAnalysis.sourceWilson(
        graft.streaming.EventPipeline.normalizeTs(table(s, d, "events"))
          .withColumn("hr", hour(col("ts")).cast("long")),
        "hr", col("event_type") =!= "error")
        .withColumnRenamed("source", "hr")
        .orderBy("hr"),
      // The same 8 Hilbert rotate/reflect iterations, unrolled newest-
      // to-oldest (h8 = quantized input, h0 = final indices).
      """WITH a AS (
        |  SELECT CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN event_type != 'error' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS k
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT hr, n, k,
        |         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |         CAST(n AS DOUBLE) AS nd,
        |         CAST(1.96 AS DOUBLE) AS z
        |  FROM a)
        |SELECT hr, n, k, p AS p_hat,
        |       (p + z * z / (2.0 * nd) -
        |        z * sqrt(p * (1.0 - p) / nd + z * z / (4.0 * nd * nd))) /
        |       (1.0 + z * z / nd) AS wilson_lower
        |FROM c ORDER BY hr""".stripMargin),
    // CUSUM changepoint card (Page 1954): two-sided peak excursion of
    // the daily count series per type via the prefix-extreme closed
    // form — one partitioned window over the bounded day grid, exact
    // micro integers.
    QuerySpec("events_cusum", (s, d) =>
      EventSeries.cusumChangepoint(
        graft.streaming.EventPipeline.normalizeTs(table(s, d, "events"))),
      // CUSUM replayed: the same dense zero-filled day grid, the same
      // prefix-extreme closed form in windows, row_number argmax with
      // the earliest-day tie-break.
      (EventDayGridCtes +
        """,
          |tot AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          |         CAST(sum(cnt) AS BIGINT) AS total,
          |         CAST(CAST(1000000 * sum(cnt) AS HUGEINT) // count(*) AS BIGINT) AS mean_micro
          |  FROM grid GROUP BY 1),
          |pfx AS (
          |  SELECT g.event_type, g.day, t.n_days, t.total, t.mean_micro,
          |         sum(1000000 * g.cnt - t.mean_micro) OVER
          |           (PARTITION BY g.event_type ORDER BY g.day
          |            ROWS UNBOUNDED PRECEDING) AS p
          |  FROM grid g JOIN tot t USING (event_type)),
          |ext AS (
          |  SELECT *,
          |         p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY day
          |           ROWS UNBOUNDED PRECEDING)) AS sp,
          |         greatest(0, max(p) OVER (PARTITION BY event_type ORDER BY day
          |           ROWS UNBOUNDED PRECEDING)) - p AS sn
          |  FROM pfx),
          |pick AS (
          |  SELECT *,
          |         row_number() OVER (PARTITION BY event_type ORDER BY sp DESC, day) AS rp,
          |         row_number() OVER (PARTITION BY event_type ORDER BY sn DESC, day) AS rn
          |  FROM ext)
          |SELECT p1.event_type, p1.n_days, p1.total, p1.mean_micro,
          |       CAST(p1.sp AS BIGINT) AS cusum_pos_micro,
          |       CAST(p1.day AS BIGINT) AS cp_day_pos,
          |       CAST(p2.sn AS BIGINT) AS cusum_neg_micro,
          |       CAST(p2.day AS BIGINT) AS cp_day_neg
          |FROM pick p1 JOIN pick p2 USING (event_type)
          |WHERE p1.rp = 1 AND p2.rn = 1
          |ORDER BY event_type""".stripMargin)),
    // Median/MAD day-level anomaly flags per type — the robust
    // distribution-free outlier card over the same zero-filled grid.
    QuerySpec("events_mad_anomalies", (s, d) =>
      EventSeries.madAnomalies(
        graft.streaming.EventPipeline.normalizeTs(table(s, d, "events")),
        k = 2),
      // MAD flags replayed: lower medians as rank-(n+1)//2 order
      // statistics over the same grid, HUGEINT // for div parity.
      (EventDayGridCtes +
        """,
          |sized AS (
          |  SELECT *, count(*) OVER (PARTITION BY event_type) AS n,
          |         row_number() OVER (PARTITION BY event_type ORDER BY cnt, day) AS rn
          |  FROM grid),
          |med AS (
          |  SELECT event_type, max(CASE WHEN rn = (n + 1) // 2 THEN cnt END) AS med
          |  FROM sized GROUP BY 1),
          |dev AS (
          |  SELECT g.event_type, g.day, g.cnt, m.med, abs(g.cnt - m.med) AS adev
          |  FROM grid g JOIN med m USING (event_type)),
          |sized2 AS (
          |  SELECT *, count(*) OVER (PARTITION BY event_type) AS n,
          |         row_number() OVER (PARTITION BY event_type ORDER BY adev, day) AS rn
          |  FROM dev),
          |mad AS (
          |  SELECT event_type, max(CASE WHEN rn = (n + 1) // 2 THEN adev END) AS mad
          |  FROM sized2 GROUP BY 1)
          |SELECT d.event_type, CAST(d.day AS BIGINT) AS day,
          |       CAST(d.cnt AS BIGINT) AS cnt, CAST(d.med AS BIGINT) AS med,
          |       CAST(m.mad AS BIGINT) AS mad,
          |       CAST(CAST(1000000 * d.adev AS HUGEINT) // greatest(m.mad, 1) AS BIGINT) AS score_micro
          |FROM dev d JOIN mad m USING (event_type)
          |WHERE CAST(1000000 * d.adev AS HUGEINT) // greatest(m.mad, 1) >= 2000000
          |ORDER BY d.event_type, d.day""".stripMargin)),
    // Hour-of-day seasonal profile: dense 24-hour share grid + peak
    // flags per type.
    QuerySpec("events_seasonality", (s, d) =>
      EventSeries.seasonalProfile(
        graft.streaming.EventPipeline.normalizeTs(table(s, d, "events"))),
      // Seasonal profile replayed: dense 24-hour grid, integral share,
      // max-count peak flag.
      """WITH base AS (
        |  SELECT event_type,
        |         CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |counts AS (
        |  SELECT event_type, hr, CAST(count(*) AS BIGINT) AS cnt
        |  FROM base GROUP BY 1, 2),
        |hours AS (SELECT CAST(unnest(generate_series(0, 23)) AS BIGINT) AS hr),
        |types AS (SELECT DISTINCT event_type FROM base),
        |grid AS (
        |  SELECT t.event_type, h.hr, coalesce(c.cnt, 0) AS cnt
        |  FROM types t CROSS JOIN hours h
        |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.hr = h.hr),
        |agg AS (
        |  SELECT *, sum(cnt) OVER (PARTITION BY event_type) AS tot,
        |         max(cnt) OVER (PARTITION BY event_type) AS mx
        |  FROM grid)
        |SELECT event_type, hr, CAST(cnt AS BIGINT) AS cnt,
        |       CAST(CASE WHEN tot > 0
        |            THEN CAST(1000000 * cnt AS HUGEINT) // tot
        |            ELSE 0 END AS BIGINT) AS share_micro,
        |       cnt = mx AS is_peak
        |FROM agg ORDER BY event_type, hr""".stripMargin),
    // Engagement card: DAU / trailing-7 WAU / stickiness — the WAU
    // side is a 7-way explode to an equality aggregate (constant
    // blow-up), never an interval join or a distinct-over-window.
    QuerySpec("events_dau_wau", (s, d) =>
      graft.streaming.EventPipeline.dauWau(table(s, d, "events")),
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |        FROM ud GROUP BY 1),
        |contrib AS (
        |  SELECT user_id, day + CAST(k AS INTEGER) AS day
        |  FROM ud, unnest(generate_series(0, 6)) t(k)),
        |wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |        FROM contrib GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |       round(d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
        |FROM dau d JOIN wau w USING (day) ORDER BY day""".stripMargin),
    // Event-type transition matrix (first-order Markov view): keyed
    // lag bigrams -> hash-aggregate counts -> per-prev probabilities.
    QuerySpec("events_transitions", (s, d) =>
      graft.streaming.EventPipeline.typeTransitions(table(s, d, "events")),
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events),
        |bi AS (
        |  SELECT lag(event_type) OVER w AS prev, event_type AS cur
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |counts AS (
        |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS n
        |  FROM bi WHERE prev IS NOT NULL GROUP BY 1, 2),
        |totals AS (SELECT prev, CAST(sum(n) AS BIGINT) AS total
        |           FROM counts GROUP BY 1)
        |SELECT c.prev, c.cur, c.n, t.total,
        |       round(c.n / CAST(t.total AS DOUBLE), 6) AS p
        |FROM counts c JOIN totals t USING (prev)
        |ORDER BY prev, cur""".stripMargin),
    // Relational pivot: per-user event-type counts as COLUMNS. The
    // pivot value list is explicit (deterministic schema — never let
    // the engine discover pivot columns from data at 100 TB: that is
    // an extra distinct scan and a nondeterministic column order).
    QuerySpec("events_pivot", (s, d) => {
      val types = Seq("click", "view", "purchase", "signup")
      table(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .orderBy("user_id")
    },
      // Pivot = conditional aggregation; the explicit value list means
      // 'error' events are deliberately absent from both sides.
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // Per-user EWMA smoothing (alpha = 1/2): collect+sort+fold per
    // key — sequential by construction, so the per-step double
    // rounding is identical to the oracle's recursive CTE.
    QuerySpec("events_ewma", (s, d) =>
      graft.streaming.EventPipeline.ewmaSmoothed(table(s, d, "events"))
        .orderBy("user_id", "event_id"),
      // EWMA re-derived by a recursive CTE: the same x*0.5 + prev*0.5
      // expression in the same sequential order -> identical doubles.
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, x, rn, x AS ewma FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT ev.user_id, ev.event_id, ev.x, ev.rn,
        |         ev.x * 0.5 + r.ewma * 0.5
        |  FROM r JOIN ev ON ev.user_id = r.user_id AND ev.rn = r.rn + 1)
        |SELECT user_id, event_id, x AS value, ewma
        |FROM r ORDER BY user_id, event_id""".stripMargin),
    // Holt's linear smoothing (alpha = beta = 1/2): level + trend per
    // user with a one-step forecast — the same sequential fold
    // discipline as events_ewma, replayed by a recursive CTE.
    QuerySpec("events_holt", (s, d) =>
      graft.streaming.EventPipeline.holtSmoothed(table(s, d, "events"))
        .orderBy("user_id", "event_id"),
      // Holt's recurrence replayed: the recursive CTE carries (level,
      // trend); the trend recomputes the new level inline exactly as
      // the engine-side fold does, pinning the operation order.
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, x, rn,
        |         x AS level, CAST(0.0 AS DOUBLE) AS trend
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT ev.user_id, ev.event_id, ev.x, ev.rn,
        |         ev.x * 0.5 + (r.level + r.trend) * 0.5,
        |         ((ev.x * 0.5 + (r.level + r.trend) * 0.5) - r.level)
        |           * 0.5 + r.trend * 0.5
        |  FROM r JOIN ev ON ev.user_id = r.user_id AND ev.rn = r.rn + 1)
        |SELECT user_id, event_id, x AS value, level, trend,
        |       level + trend AS forecast_1
        |FROM r ORDER BY user_id, event_id""".stripMargin),
    // Native session_window (Catalyst SessionWindow operator — the
    // same definition runs under Structured Streaming with watermark
    // state): gap semantics are half-open [start, last+gap), so an
    // event at exactly gap distance starts a NEW session (vs the
    // hand-rolled events_sessions row's closed `> gap` — both
    // conventions exist; the oracle replays `>=`).
    QuerySpec("events_session_window", (s, d) =>
      graft.streaming.EventPipeline.normalizeTs(table(s, d, "events"))
        .groupBy(col("user_id"), session_window(col("ts"), "600 seconds").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start"),
      // Native session_window gaps are half-open: >= gap starts a new
      // session; session_end = last event + gap.
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |flagged AS (
        |  SELECT event_id, user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                   OR ts - lag(ts) OVER w >= INTERVAL 600 SECOND
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 600 SECOND AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM sessions GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin)
  )
}
