package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Num, TimeF}
import graft.operators._
import graft.sources.Tables

/** The reference's IoT pipeline semantics (SURVEY §2.2-§2.6, §2.8-§2.9)
  * demonstrated on the `events` table via SensorAdapter: time features,
  * validity/quality, rolling range-frame windows, lag features, z-score
  * anomalies, latest-per-key, and the warehouse aggregate family.
  */
object IotQueries {

  type Q = (SparkSession, String) => DataFrame

  private def readings(s: SparkSession, dir: String): DataFrame =
    SensorAdapter.fromEvents(Tables(s, dir, "events"))

  /** Oracle CTE prefix, optionally extended with more CTEs. */
  private def cte(extra: String = ""): String =
    if (extra.isEmpty) SensorAdapter.oracleCte
    else SensorAdapter.oracleCte.stripSuffix("\n").stripSuffix(")") + "),\n" + extra + "\n"

  /** The full enriched-fact lineage (BatchPipeline.transform without
    * the sink): time features → rolling range frames → lag features →
    * z-score anomalies → combined flag — shared by the two composed
    * reference queries below.
    */
  private def enriched(s: SparkSession, dir: String): DataFrame = {
    val rolled = RollingStats.withLagFeatures(
      RollingStats.withRollingStats(TimeFeatures.withTimeFeatures(readings(s, dir))),
      orderCols = Seq("time", "event_id"))
    AnomalyDetection.withZScore(rolled)
      .withColumn("is_anomaly_combined", col("is_anomaly") || col("is_anomaly_zscore"))
  }

  /** q231: reference Q9, "recent anomalies with context"
    * (analytical_queries.sql:129-143) composed END-TO-END over the
    * enriched lineage — the top-50 most recent combined-flag anomalies
    * of the last 24 h (injectable clock = max(time), the q29
    * convention) with their 1 h rolling average and deviation.
    * Ordering totalizes the reference's ORDER BY time DESC with
    * event_id DESC; the reference's `unit` column has no counterpart
    * in the events-backed adapter and is omitted.
    */
  val anomalyContext: Q = (s, dir) => {
    val nowT = readings(s, dir).agg(max(col("time")).as("now_ts"))
    enriched(s, dir).crossJoin(broadcast(nowT))
      .filter(col("is_anomaly_combined") &&
        col("time") > col("now_ts") - expr("INTERVAL 24 HOURS"))
      .select(col("time").cast("timestamp_ntz").as("time"),
        col("device_id"), col("device_type"), col("value"),
        col("rolling_avg_1h"),
        (col("value") - col("rolling_avg_1h")).as("deviation_from_avg"),
        col("quality_score"), col("event_id"))
      .orderBy(col("time").desc, col("event_id").desc)
      .limit(50)
  }

  /** q232: reference Q17, "ML feature export"
    * (analytical_queries.sql:275-296) — the feature-engineered
    * projection over the enriched fact, valid records of the last 30
    * days with a non-null 1 h average, every W1-W6 feature plus the
    * time-feature block and the combined anomaly flag as the label.
    */
  val mlFeatureExport: Q = (s, dir) => {
    val nowT = readings(s, dir).agg(max(col("time")).as("now_ts"))
    QualityChecks.withValidity(enriched(s, dir))
      .crossJoin(broadcast(nowT))
      .filter(col("time") > col("now_ts") - expr("INTERVAL 30 DAYS") &&
        col("is_valid_record") && col("rolling_avg_1h").isNotNull)
      .select(col("time").cast("timestamp_ntz").as("time"),
        col("device_id"), col("device_type"), col("value"),
        col("rolling_avg_5min"), col("rolling_avg_1h"),
        col("value_lag_1"), col("value_lag_2"), col("value_change"),
        col("hour_of_day"), col("day_of_week"), col("is_weekend"),
        col("is_business_hours"), col("is_anomaly_combined").as("label"),
        col("event_id"))
      .orderBy("device_id", "time", "event_id")
  }

  /** q236: per-minute top-3 value leaderboard per device type — the
    * BATCH twin of [[graft.streaming.StreamAggregates.windowedTopK]]
    * (same function, same aggregate): a windowed rank whose state is a
    * k-entry heap per open window, never the events — the shape that
    * runs unchanged on a stream where a row_number window cannot.
    * StreamTopKSpec proves stream ≡ batch (late-event re-election
    * included); this query hash-checks the rank arithmetic itself.
    */
  val windowedTopKQ: Q = (s, dir) =>
    graft.streaming.StreamAggregates.windowedTopK(readings(s, dir), "event_id", k = 3)
      .select(col("window_start").cast("timestamp_ntz").as("window_start"),
        col("device_type"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("window_start"), col("device_type"),
        (col("pos") + 1).cast("int").as("rank"),
        col("t.score").as("value"), col("t.id").as("event_id"))
      .orderBy("window_start", "device_type", "rank")

  val timeFeatures: Q = (s, dir) =>
    TimeFeatures
      .withTimeFeatures(readings(s, dir))
      .select("event_id", "hour_of_day", "day_of_week", "month", "is_weekend", "is_business_hours")
      .orderBy("event_id")

  val validityFlags: Q = (s, dir) =>
    QualityChecks
      .withValidity(readings(s, dir))
      .select("event_id", "has_null_value", "has_invalid_quality", "is_valid_record")
      .orderBy("event_id")

  val qualityRates: Q = (s, dir) =>
    QualityChecks.qualityRates(readings(s, dir), Seq("device_type")).orderBy("device_type")

  val rollingStats: Q = (s, dir) =>
    RollingStats
      .withRollingStats(readings(s, dir))
      .select("event_id", "value", "rolling_avg_5min", "rolling_avg_1h", "rolling_stddev_1h", "n_5min")
      .orderBy("event_id")

  val lagFeatures: Q = (s, dir) =>
    RollingStats
      .withLagFeatures(readings(s, dir))
      .select("event_id", "value", "value_lag_1", "value_lag_2", "value_change")
      .orderBy("event_id")

  val zscore: Q = (s, dir) =>
    AnomalyDetection
      .withZScore(readings(s, dir))
      .select(
        col("event_id"), col("value"),
        round(col("value_mean"), 6).as("value_mean"),
        round(col("value_stddev"), 6).as("value_stddev"),
        round(col("z_score"), 6).as("z_score"),
        col("is_anomaly_zscore"))
      .orderBy("event_id")

  val latestPerDevice: Q = (s, dir) =>
    RollingStats
      .latestPerKey(readings(s, dir))
      .select(
        col("device_id"),
        col("time").cast("timestamp_ntz").as("time"),
        col("device_type"), col("value"), col("quality_score"))
      .orderBy("device_id")

  val hourlyAgg: Q = (s, dir) =>
    WarehouseAggregates.hourlyAgg(readings(s, dir)).orderBy("bucket", "device_type")

  val dailyAgg: Q = (s, dir) =>
    WarehouseAggregates.dailyAgg(readings(s, dir)).orderBy("bucket", "device_type")

  val deviceHealth: Q = (s, dir) =>
    WarehouseAggregates.deviceHealth(readings(s, dir)).orderBy("device_id")

  val anomalyTrend: Q = (s, dir) =>
    WarehouseAggregates.anomalyTrend(readings(s, dir)).orderBy("bucket", "device_type")

  val hourProfile: Q = (s, dir) =>
    WarehouseAggregates.hourProfile(readings(s, dir)).orderBy("hour_of_day", "device_type")

  val weekendCompare: Q = (s, dir) =>
    WarehouseAggregates.weekendCompare(readings(s, dir)).orderBy("device_type", "is_weekend")

  val businessHoursDiff: Q = (s, dir) =>
    WarehouseAggregates.businessHoursDiff(readings(s, dir)).orderBy("device_type")

  val minuteWindow: Q = (s, dir) =>
    WarehouseAggregates
      .minuteWindowAgg(readings(s, dir))
      .orderBy("window_start", "device_id", "device_type")

  val deviceStatsQ: Q = (s, dir) => {
    val r = readings(s, dir)
    val scalars = broadcast(r.agg(min(col("device_id")).as("target_device"), max(col("time")).as("now_ts")))
    WarehouseAggregates.deviceStats(
      r.crossJoin(scalars),
      col("target_device"),
      col("now_ts") - expr("INTERVAL 7 DAYS"),
      col("now_ts"))
  }

  import Num.{O => N}
  import TimeF.{O => T}

  private val anomCnt = "CAST(SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS BIGINT)"

  /** The q25 z-score anomaly flag over window `wz` — reused by the
    * composed q231/q232 enriched-lineage replays.
    */
  private def zscoreAnomSql: String =
    s"""coalesce(abs(CASE WHEN ${N.stddev("value", " OVER wz")} > 0
       |      THEN (value - ${N.sum("value", " OVER wz")} / CAST(COUNT(value) OVER wz AS DOUBLE))
       |           / (${N.stddev("value", " OVER wz")}) END) > 3.0, false)""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q20_time_features", timeFeatures, (cte() +
      s"""SELECT event_id, ${T.hourOf("time")} AS hour_of_day, ${T.dow("time")} AS day_of_week,
         |  CAST(month(time) AS INT) AS month, ${T.isWeekend("time")} AS is_weekend,
         |  ${T.isBusinessHours("time")} AS is_business_hours
         |FROM readings ORDER BY event_id""".stripMargin)),
    Entry("q21_validity_flags", validityFlags, (cte() +
      """SELECT event_id, (value IS NULL) AS has_null_value,
        |  (quality_score IS NULL OR quality_score < 0 OR quality_score > 100) AS has_invalid_quality,
        |  (NOT (value IS NULL) AND NOT (quality_score IS NULL OR quality_score < 0 OR quality_score > 100)) AS is_valid_record
        |FROM readings ORDER BY event_id""".stripMargin)),
    Entry("q22_quality_rates", qualityRates, (cte() +
      s"""SELECT device_type, COUNT(*) AS n_readings,
         |  CAST(SUM(CASE WHEN value IS NOT NULL AND quality_score BETWEEN 0 AND 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
         |  round(100.0 * CAST(SUM(CASE WHEN value IS NOT NULL AND quality_score BETWEEN 0 AND 100 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*), 6) AS valid_pct,
         |  CAST(SUM(CASE WHEN quality_score >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality,
         |  round(100.0 * CAST(SUM(CASE WHEN quality_score >= 50 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*), 6) AS high_quality_pct,
         |  round(${N.avg("quality_score")}, 6) AS avg_quality
         |FROM readings GROUP BY device_type ORDER BY device_type""".stripMargin)),
    Entry("q23_rolling_stats", rollingStats, (cte() +
      s"""SELECT event_id, value,
         |  round(${N.avg("value", " OVER w5m")}, 6) AS rolling_avg_5min,
         |  round(${N.avg("value", " OVER w1h")}, 6) AS rolling_avg_1h,
         |  round(${N.stddev("value", " OVER w1h")}, 6) AS rolling_stddev_1h,
         |  COUNT(value) OVER w5m AS n_5min
         |FROM (SELECT *, CAST(floor(epoch(time)) AS BIGINT) AS ts_seconds FROM readings)
         |WINDOW
         |  w5m AS (PARTITION BY device_id ORDER BY ts_seconds RANGE BETWEEN 300 PRECEDING AND CURRENT ROW),
         |  w1h AS (PARTITION BY device_id ORDER BY ts_seconds RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin)),
    Entry("q24_lag_features", lagFeatures, (cte() +
      """SELECT event_id, value,
        |  lag(value, 1) OVER w AS value_lag_1,
        |  lag(value, 2) OVER w AS value_lag_2,
        |  value - lag(value, 1) OVER w AS value_change
        |FROM readings
        |WINDOW w AS (PARTITION BY device_id ORDER BY time, event_id)
        |ORDER BY event_id""".stripMargin)),
    Entry("q25_zscore", zscore, (cte() +
      s"""SELECT event_id, value,
         |  round(${N.sum("value", " OVER w")} / CAST(COUNT(value) OVER w AS DOUBLE), 6) AS value_mean,
         |  round(${N.stddev("value", " OVER w")}, 6) AS value_stddev,
         |  round(CASE WHEN ${N.stddev("value", " OVER w")} > 0
         |        THEN (value - ${N.sum("value", " OVER w")} / CAST(COUNT(value) OVER w AS DOUBLE))
         |             / (${N.stddev("value", " OVER w")}) END, 6) AS z_score,
         |  coalesce(abs(CASE WHEN ${N.stddev("value", " OVER w")} > 0
         |        THEN (value - ${N.sum("value", " OVER w")} / CAST(COUNT(value) OVER w AS DOUBLE))
         |             / (${N.stddev("value", " OVER w")}) END) > 3.0, false) AS is_anomaly_zscore
         |FROM readings
         |WINDOW w AS (PARTITION BY device_id, device_type)
         |ORDER BY event_id""".stripMargin)),
    Entry("q26_latest_per_device", latestPerDevice, (cte() +
      """SELECT device_id, time, device_type, value, quality_score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY device_id ORDER BY time DESC, event_id DESC) AS rn
        |  FROM readings) WHERE rn = 1
        |ORDER BY device_id""".stripMargin)),
    Entry("q27_hourly_agg", hourlyAgg, (cte() +
      s"""SELECT date_trunc('hour', time) AS bucket, device_type,
         |  COUNT(*) AS reading_count,
         |  round(${N.avg("value")}, 6) AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value,
         |  round(${N.stddev("value")}, 6) AS stddev_value,
         |  round(quantile_cont(value, 0.5), 6) AS median_value,
         |  round(quantile_cont(value, 0.95), 6) AS p95_value,
         |  $anomCnt AS anomaly_count,
         |  round(${N.avg("quality_score")}, 6) AS avg_quality_score
         |FROM readings GROUP BY 1, 2 ORDER BY bucket, device_type""".stripMargin)),
    Entry("q28_daily_agg", dailyAgg, (cte() +
      s"""SELECT date_trunc('day', time) AS bucket, device_type,
         |  COUNT(*) AS reading_count,
         |  round(${N.avg("value")}, 6) AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value,
         |  round(${N.avg("CASE WHEN hour(time) BETWEEN 9 AND 17 THEN value END")}, 6) AS avg_value_business_hours,
         |  round(${N.avg("CASE WHEN NOT (hour(time) BETWEEN 9 AND 17) THEN value END")}, 6) AS avg_value_off_hours,
         |  $anomCnt AS anomaly_count
         |FROM readings GROUP BY 1, 2 ORDER BY bucket, device_type""".stripMargin)),
    Entry("q29_device_health", deviceHealth, (cte(
      "now_cte AS (SELECT max(time) AS now_ts FROM readings)") +
      s"""SELECT device_id, COUNT(*) AS reading_count,
         |  round(${N.avg("value")}, 6) AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value,
         |  round(${N.avg("quality_score")}, 6) AS avg_quality_score,
         |  $anomCnt AS anomaly_count,
         |  max(time) AS last_reading_at,
         |  CAST(floor(epoch(max(now_ts))) AS BIGINT) - CAST(floor(epoch(max(time))) AS BIGINT) AS seconds_since_last
         |FROM readings, now_cte
         |WHERE time > now_ts - INTERVAL 24 HOUR
         |GROUP BY device_id ORDER BY device_id""".stripMargin)),
    Entry("q30_anomaly_trend", anomalyTrend, (cte() +
      s"""SELECT date_trunc('hour', time) AS bucket, device_type,
         |  COUNT(*) AS reading_count, $anomCnt AS anomaly_count,
         |  round(100.0 * $anomCnt / COUNT(*), 6) AS anomaly_rate_pct
         |FROM readings GROUP BY 1, 2 ORDER BY bucket, device_type""".stripMargin)),
    Entry("q31_hour_profile", hourProfile, (cte() +
      s"""SELECT ${T.hourOf("time")} AS hour_of_day, device_type,
         |  COUNT(*) AS reading_count,
         |  round(${N.avg("value")}, 6) AS avg_value,
         |  round(${N.stddev("value")}, 6) AS stddev_value
         |FROM readings GROUP BY 1, 2 ORDER BY hour_of_day, device_type""".stripMargin)),
    Entry("q32_weekend_compare", weekendCompare, (cte() +
      s"""SELECT device_type, ${T.isWeekend("time")} AS is_weekend,
         |  COUNT(*) AS reading_count,
         |  round(${N.avg("value")}, 6) AS avg_value,
         |  round(${N.avg("quality_score")}, 6) AS avg_quality_score
         |FROM readings GROUP BY 1, 2 ORDER BY device_type, is_weekend""".stripMargin)),
    Entry("q33_business_hours_diff", businessHoursDiff, (cte() +
      s"""SELECT device_type,
         |  round(${N.avg("CASE WHEN hour(time) BETWEEN 9 AND 17 THEN value END")}, 6) AS avg_business_hours,
         |  round(${N.avg("CASE WHEN NOT (hour(time) BETWEEN 9 AND 17) THEN value END")}, 6) AS avg_off_hours,
         |  round(round(${N.avg("CASE WHEN hour(time) BETWEEN 9 AND 17 THEN value END")}, 6)
         |      - round(${N.avg("CASE WHEN NOT (hour(time) BETWEEN 9 AND 17) THEN value END")}, 6), 6) AS business_hours_delta
         |FROM readings GROUP BY device_type ORDER BY device_type""".stripMargin)),
    Entry("q34_minute_window", minuteWindow, (cte() +
      s"""SELECT date_trunc('minute', time) AS window_start,
         |  date_trunc('minute', time) + INTERVAL 1 MINUTE AS window_end,
         |  device_id, device_type, COUNT(*) AS reading_count,
         |  round(${N.avg("value")}, 6) AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value,
         |  round(${N.stddev("value")}, 6) AS stddev_value,
         |  $anomCnt AS anomaly_count,
         |  round(${N.avg("quality_score")}, 6) AS avg_quality_score
         |FROM readings GROUP BY 1, 2, 3, 4 ORDER BY window_start, device_id, device_type""".stripMargin)),
    Entry("q35_device_stats", deviceStatsQ, (cte(
      "params AS (SELECT min(device_id) AS target_device, max(time) AS now_ts FROM readings)") +
      s"""SELECT device_id, COUNT(*) AS reading_count,
         |  round(${N.avg("value")}, 6) AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value,
         |  round(${N.stddev("value")}, 6) AS stddev_value,
         |  $anomCnt AS anomaly_count,
         |  round(${N.avg("quality_score")}, 6) AS avg_quality_score
         |FROM readings, params
         |WHERE device_id = target_device AND time BETWEEN now_ts - INTERVAL 7 DAY AND now_ts
         |GROUP BY device_id ORDER BY device_id""".stripMargin)),
    Entry("q231_anomaly_context", anomalyContext, (cte(
      "now_cte AS (SELECT max(time) AS now_ts FROM readings)") +
      s"""SELECT time, device_id, device_type, value, rolling_avg_1h,
         |  value - rolling_avg_1h AS deviation_from_avg, quality_score, event_id
         |FROM (
         |  SELECT time, device_id, device_type, value, quality_score, event_id, now_ts,
         |    round(${N.avg("value", " OVER w1h")}, 6) AS rolling_avg_1h,
         |    (is_anomaly OR $zscoreAnomSql) AS is_anomaly_combined
         |  FROM (SELECT *, CAST(floor(epoch(time)) AS BIGINT) AS ts_seconds FROM readings), now_cte
         |  WINDOW
         |    w1h AS (PARTITION BY device_id ORDER BY ts_seconds RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
         |    wz AS (PARTITION BY device_id, device_type))
         |WHERE is_anomaly_combined AND time > now_ts - INTERVAL 24 HOUR
         |ORDER BY time DESC, event_id DESC LIMIT 50""".stripMargin)),
    Entry("q236_windowed_topk", windowedTopKQ, (cte() +
      """SELECT window_start, device_type, rank, value, event_id FROM (
        |  SELECT date_trunc('minute', time) AS window_start, device_type, value, event_id,
        |    CAST(row_number() OVER (PARTITION BY date_trunc('minute', time), device_type
        |      ORDER BY value DESC, event_id) AS INT) AS rank
        |  FROM readings WHERE value IS NOT NULL)
        |WHERE rank <= 3
        |ORDER BY window_start, device_type, rank""".stripMargin)),
    Entry("q232_ml_feature_export", mlFeatureExport, (cte(
      "now_cte AS (SELECT max(time) AS now_ts FROM readings)") +
      s"""SELECT time, device_id, device_type, value, rolling_avg_5min, rolling_avg_1h,
         |  value_lag_1, value_lag_2, value_change, hour_of_day, day_of_week,
         |  is_weekend, is_business_hours, label, event_id
         |FROM (
         |  SELECT time, device_id, device_type, value, event_id, now_ts,
         |    round(${N.avg("value", " OVER w5m")}, 6) AS rolling_avg_5min,
         |    round(${N.avg("value", " OVER w1h")}, 6) AS rolling_avg_1h,
         |    lag(value, 1) OVER wl AS value_lag_1,
         |    lag(value, 2) OVER wl AS value_lag_2,
         |    value - lag(value, 1) OVER wl AS value_change,
         |    ${T.hourOf("time")} AS hour_of_day, ${T.dow("time")} AS day_of_week,
         |    ${T.isWeekend("time")} AS is_weekend, ${T.isBusinessHours("time")} AS is_business_hours,
         |    (is_anomaly OR $zscoreAnomSql) AS label,
         |    (NOT (value IS NULL) AND NOT (quality_score IS NULL OR quality_score < 0 OR quality_score > 100)) AS is_valid_record
         |  FROM (SELECT *, CAST(floor(epoch(time)) AS BIGINT) AS ts_seconds FROM readings), now_cte
         |  WINDOW
         |    w5m AS (PARTITION BY device_id ORDER BY ts_seconds RANGE BETWEEN 300 PRECEDING AND CURRENT ROW),
         |    w1h AS (PARTITION BY device_id ORDER BY ts_seconds RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
         |    wl AS (PARTITION BY device_id ORDER BY time, event_id),
         |    wz AS (PARTITION BY device_id, device_type))
         |WHERE time > now_ts - INTERVAL 30 DAY AND is_valid_record AND rolling_avg_1h IS NOT NULL
         |ORDER BY device_id, time, event_id""".stripMargin))
  )
}
