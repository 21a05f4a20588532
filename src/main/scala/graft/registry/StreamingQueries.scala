package graft
package registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Temporal
import graft.operators._

import Shared._

/** Batch forms of the streaming operators: windows, sessions and dedup.
  */
private[graft] object StreamingQueries {

  def records: Seq[Query] = Seq(
    Query("stream_events_30m", ((s: SparkSession, d: String) =>
      t(s, d, "events").groupBy(
          Temporal.windowStart(col("ts"), 1800).as("window_start"),
          upper(trim(col("event_type"))).as("event_type_norm"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(round(sum(money(col("value"))), 2), lit(0)).cast("double").as("value_sum"))),
      Sql("""SELECT make_timestamp(CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) * 1800 * 1000000) AS window_start,
        |  UPPER(TRIM(event_type)) AS event_type_norm,
        |  COUNT(*) AS n_events,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // Sliding-window aggregation (1h window / 30m slide — each event
    // lands in exactly 2 windows) through Spark's built-in window()
    // generator: the overlap expansion happens inside codegen, the
    // aggregate stays map-side partial, and the SAME expression runs
    // streaming under a watermark (StreamOps.eventsSliding).
    Query("stream_events_sliding", ((s: SparkSession, d: String) =>
      t(s, d, "events").filter(col("ts").isNotNull)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          upper(trim(col("event_type"))).as("event_type_norm"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(round(sum(money(col("value"))), 2), lit(0)).cast("double").as("value_sum"))
        .select(col("w").getField("start").as("window_start"),
          col("event_type_norm"), col("n_events"), col("value_sum"))),
      // An event at t belongs to the two slide-aligned starts
      // {floor30(t), floor30(t) - 30m}: start <= t < start + 1h.
      Sql("""WITH e AS (
        |  SELECT UPPER(TRIM(event_type)) AS event_type_norm, value,
        |    make_timestamp(CAST(FLOOR(epoch(ts) / 1800) AS BIGINT)
        |                   * 1800 * 1000000) AS s0
        |  FROM events WHERE ts IS NOT NULL),
        |x AS (
        |  SELECT UNNEST([s0, s0 - INTERVAL 30 MINUTE]) AS window_start,
        |    event_type_norm, value
        |  FROM e)
        |SELECT window_start, event_type_norm, COUNT(*) AS n_events,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0)
        |       AS DOUBLE) AS value_sum
        |FROM x GROUP BY 1, 2""".stripMargin)),

    Query("sessionize_gap", ((s: SparkSession, d: String) =>
      Sessionize.byGap(t(s, d, "events"), "user_id", "ts", "event_id", "value", gapSec = 1800)),
      Sql(sessionizeOracleSql)),

    // One-row session KPI panel over the gap sessions: counts, exact
    // duration percentiles, bounce rate, value per session.
    Query("ana_session_stats", ((s: SparkSession, d: String) =>
      AnalyticsPack.sessionStats(
        Sessionize.byGap(t(s, d, "events"), "user_id", "ts", "event_id",
          "value", gapSec = 1800),
        "user_id")),
      // Session-KPI replay over the same sessionizer CTE: exact counts,
      // quantile_cont percentiles, decimal value sums, one division each.
      Sql(s"""WITH sess AS MATERIALIZED ($sessionizeOracleSql)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |  quantile_cont(epoch_ms(session_end) - epoch_ms(session_start), 0.5) AS p50_duration_ms,
         |  quantile_cont(epoch_ms(session_end) - epoch_ms(session_start), 0.9) AS p90_duration_ms,
         |  CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_events,
         |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS bounce_rate,
         |  CAST(SUM(CAST(value_sum AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
         |FROM sess""".stripMargin)),

    // Sweep-line peak concurrency over the gap sessions: the busiest
    // instant's open-session count — capacity planning over the
    // session table. Distributed prefix sum, codegen sweep expansion.
    Query("ana_peak_concurrency", ((s: SparkSession, d: String) =>
      AnalyticsPack.peakConcurrency(
        Sessionize.byGap(t(s, d, "events"), "user_id", "ts", "event_id",
          "value", gapSec = 1800),
        "session_start", "session_end", Seq("user_id", "session_seq"))),
      // Sweep replay: starts before ends at a shared instant (delta
      // DESC), total order closed by (user_id, session_seq), running
      // sum over exact longs, struct-argmax with earliest-instant ties.
      Sql(s"""WITH sess AS MATERIALIZED ($sessionizeOracleSql),
         |sw AS (
         |  SELECT session_start AS ts, CAST(1 AS BIGINT) AS delta, user_id, session_seq FROM sess
         |  UNION ALL
         |  SELECT session_end, CAST(-1 AS BIGINT), user_id, session_seq FROM sess),
         |c AS (
         |  SELECT ts,
         |    SUM(delta) OVER (ORDER BY ts, delta DESC, user_id, session_seq
         |      ROWS UNBOUNDED PRECEDING) AS run
         |  FROM sw)
         |SELECT CAST(MAX({'p': run, 'negts': -epoch_ms(ts)}).p AS BIGINT) AS peak_concurrency,
         |  make_timestamp(-MAX({'p': run, 'negts': -epoch_ms(ts)}).negts * 1000) AS at_ts,
         |  CAST((SELECT COUNT(*) FROM sw) / 2 AS BIGINT) AS n_intervals
         |FROM c""".stripMargin)),

    // Built-in session_window twin of sessionize_gap: identical
    // sessions with zero window-function passes (MergingSessionsExec),
    // batch and streaming alike — shares the sessionize oracle.
    Query("sessionize_window", ((s: SparkSession, d: String) =>
      Sessionize.byGapBuiltin(t(s, d, "events"), "user_id", "ts", "event_id", "value",
        gapSec = 1800)),
      Sql(sessionizeOracleSql)),

    // Batch twin of streaming first-delivery-wins dedup
    // (StreamOps.dedupStream): earliest row per key in event-time order.
    Query("stream_dedup_events", ((s: SparkSession, d: String) =>
      Dedup.firstByGrain(t(s, d, "events"),
        grain = Seq("user_id", "event_type"), order = Seq("ts", "event_id"))),
      Sql("""SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin))
  )

  /** Shared by sessionize_gap and its session_window twin — the two
    * operators must agree row for row, so they share one oracle.
    */
  private val sessionizeOracleSql =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag_ms IS NULL OR ms - lag_ms > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM (
      |    SELECT user_id, ts, event_id, value,
      |      epoch_ms(ts) AS ms,
      |      LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lag_ms
      |    FROM events)),
      |sess AS (
      |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM marked)
      |SELECT user_id, session_seq,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
      |FROM sess GROUP BY 1, 2""".stripMargin
}
