package graft.events

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-stream analytics over the `events` fixture table (driver-extension
  * mandate; the reference has no streaming surface — SURVEY.md §2.9).
  * Batch-first: the same plans run under Structured Streaming (see
  * graft.streaming) with `readStream` + `withWatermark`.
  *
  * Scale notes: the hourly rollup and JSON stats are single partial+final
  * aggregations keyed by (window, type) — shuffle volume is the distinct
  * key count, not the event count. Sessionization shuffles once by
  * user_id; the gap/cumsum windows then run partition-local.
  */
object Events {

  /** Tumbling 1-hour rollup per event type — `window($"ts", ...)` is the
    * streaming-compatible form of date_trunc. Values summed in DECIMAL for
    * oracle-exact results; window start rendered as a string (engine
    * timestamp types differ in precision, strings don't).
    */
  def hourlyRollup(spark: SparkSession, dir: String): DataFrame =
    rollup(Tables.events(spark, dir), window(col("ts"), "1 hour"))

  /** The per-(window, type) rollup behind [[hourlyRollup]] and the
    * streaming tumbling and sliding rollups: event count and DECIMAL
    * value sum per window `w` (a `window(...)` column), keyed by the
    * window start. A streaming caller adds its watermark to `events`.
    */
  def rollup(events: DataFrame, w: Column): DataFrame =
    events
      .groupBy(w.as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(12,2)")), 2).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** JSON property extraction + stats: props is a JSON string column; pull
    * `$.k` as int (`get_json_object` — a codegen'd path expression, no UDF).
    */
  def jsonStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Sessionization: a session breaks after a >30-minute gap per user.
    * lag + cumulative-sum windows; emits one row per session.
    */
  def sessionize(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMs = gapMinutes * 60L * 1000L
    Tables.events(spark, dir)
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ms").isNull ||
          unix_millis(col("ts")) - col("prev_ms") > gapMs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        round(sum(col("value").cast("decimal(12,2)")), 2).cast("double").as("sum_value"))
  }

  /** Sessionization through Spark's NATIVE `session_window` operator —
    * the built-in merging-window aggregate (streaming-compatible with
    * state eviction, unlike the hand-rolled lag/cumsum of [[sessionize]]).
    * Semantics nuance mirrored in the oracle: session_window's window is
    * [first, last + gap) with an EXCLUSIVE end, so an event exactly
    * `gap` after the previous one starts a NEW session (the lag/cumsum
    * form breaks only on strictly-greater gaps); `session_end` here is
    * therefore last-event-ts + gap, not last-event-ts.
    */
  def sessionWindow(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
    sessionWindowOn(Tables.events(spark, dir), gapMinutes)

  /** The same merging-window aggregate over an arbitrary (possibly
    * watermarked, possibly streaming) events frame — StreamingSpec runs
    * it AvailableNow to pin that the NATIVE session operator, not just
    * the hand-rolled folds, is stream-real here.
    */
  def sessionWindowOn(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes").as("w"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(12,2)")), 2).cast("double").as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        col("n_events"), col("sum_value"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_hourly_rollup" -> ((s, d) => hourlyRollup(s, d)),
    "ev_json_stats"    -> ((s, d) => jsonStats(s, d)),
    "ev_sessionize"    -> ((s, d) => sessionize(s, d)),
    "ev_session_window"-> ((s, d) => sessionWindow(s, d)),
  )

  /** The gap-sessionization replay parametrized over its source
    * relation, so scale tiers can splice an inflated-corpus CTE in front
    * (streaming/Streaming st_sessions_big) while the fixture query and
    * the tier share one oracle body.
    */
  def sessionizeOracleOn(src: String, prelude: String = ""): String =
    s"""WITH $prelude g AS (
           SELECT user_id, event_id, ts, value,
                  CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_sess
           FROM (SELECT user_id, event_id, ts, value,
                   epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
                   lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
                 FROM $src)),
         s AS (
           SELECT user_id, ts, value,
                  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM g)
         SELECT user_id, session_id, count(*) AS n_events,
                strftime(min(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                strftime(max(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
                CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
         FROM s GROUP BY user_id, session_id"""

  val oracles: Map[String, String] = Map(
    "ev_hourly_rollup" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    "ev_json_stats" ->
      """SELECT event_type, count(*) AS n,
               CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
         GROUP BY event_type""",
    "ev_sessionize" -> sessionizeOracleOn("events"),
    // session_window semantics: micros-exact, break on gap >= 30 min
    // (exclusive window end), session_end = last event + gap
    "ev_session_window" ->
      """WITH g AS (
           SELECT user_id, event_id, ts, value,
                  CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM (SELECT user_id, event_id, ts, value,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
                 FROM events)),
         s AS (
           SELECT user_id, ts, value,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
           FROM g)
         SELECT user_id,
                strftime(min(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                strftime(max(CAST(ts AS TIMESTAMP)) + INTERVAL 30 MINUTE,
                         '%Y-%m-%d %H:%M:%S.%f') AS session_end,
                count(*) AS n_events,
                CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
         FROM s GROUP BY user_id, sid""",
  )
}
