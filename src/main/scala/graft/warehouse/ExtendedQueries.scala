package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.operators.AsofJoin
import graft.sources.Tables

/** Engine-breadth operators beyond the reference surface: as-of join,
  * gap sessionization, rollup/grouping sets, distinct aggregation.
  * Oracles mirror the exact construction (union + running last for
  * as-of; lag/gap/running-sum for sessions), so results hash-match.
  */
object ExtendedQueries {

  type Q = (SparkSession, String) => DataFrame

  /** As-of join: each purchase matched to the user's most recent prior
    * (or simultaneous) click, with the click's id/value and the gap.
    */
  val asof: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value")
    val clicks = e.filter(col("event_type") === "click")
      .select("user_id", "ts", "event_id", "value")
    AsofJoin.asofBackward(purchases, clicks, "user_id", "ts", "event_id", Seq("event_id", "value"))
      .select(
        col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("asof_event_id"), col("asof_value"),
        col("asof_ts").cast("timestamp_ntz").as("asof_ts"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("asof_ts"))).as("gap_seconds"))
      .orderBy("event_id")
  }

  /** Gap-based sessionization (30-minute idle gap) per user. */
  val sessions: Q = (s, dir) => {
    AsofJoin.sessionize(Tables(s, dir, "events"), "user_id", "ts", "event_id", gapSeconds = 1800)
      .select(
        col("user_id"), col("session_seq"), col("n_events"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("duration_seconds"))
      .orderBy("user_id", "session_seq")
  }

  /** ROLLUP with grouping_id over the pricing keys. */
  val rollup: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_items"),
        Num.dsum(col("l_quantity")).as("sum_qty"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Distinct aggregation (Expand-based plan shape). */
  val countDistinct: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    e.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        count_distinct(when(col("value") > 250, col("user_id"))).as("n_big_spenders"))
      .orderBy("event_type")
  }

  /** Built-in session_window sessionization (same 30-min gap contract as
    * q16, expressed through Spark's native session-window aggregate —
    * the operator Structured Streaming uses for streaming sessions).
    * session_window merges events strictly less than the gap apart
    * (µs precision), so the oracle uses epoch_us with a `>= gap` break.
    */
  val sessionWindow: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    e.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .select(
        col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"),
        (unix_timestamp(col("session_end")) - unix_timestamp(col("session_start")))
          .as("duration_seconds"))
      .orderBy("user_id", "session_start")
  }

  /** q119: string-function surface parity — the scalar string toolkit
    * (pad/substr/strpos/translate/repeat/prefix tests) as pure narrow
    * codegen'd projections with exact DuckDB twins.
    */
  val stringSurface: Q = (s, dir) =>
    Tables(s, dir, "documents").select(
      col("doc_id"),
      upper(col("lang")).as("lang_up"),
      lpad(col("source"), 8, "_").as("src_pad"),
      reverse(col("lang")).as("lang_rev"),
      substring(col("text"), 1, 12).as("prefix12"),
      instr(col("text"), "the").as("the_pos"),
      translate(col("lang"), "aeiou", "AEIOU").as("lang_tr"),
      repeat(col("lang"), 2).as("lang2"),
      col("text").startsWith("the").as("starts_the"),
      col("text").endsWith("s").as("ends_s"),
      col("text").contains("data").as("has_data"))
      .orderBy("doc_id")

  /** q120: aggregate-surface parity — count_if / bool_and / bool_or /
    * exact interpolated median, per event type.
    */
  val aggSurface: Q = (s, dir) =>
    Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count_if(col("value") > 100).as("n_high"),
        bool_and(col("value") >= 0).as("all_nonneg"),
        bool_or(col("value") > 400).as("any_gt400"),
        round(median(col("value")), 6).as("median_value"))
      .orderBy("event_type")

  /** q121: per-user ordered event paths — the sequence-mining input
    * (funnels, next-event prediction). Per-user aggregation state is
    * TRULY bounded at PathCap: events past the cap are filtered by a
    * pre-aggregation window rank (collect_list skips the nulls), so a
    * million-event user buffers 50 structs, not a million — the
    * earlier shape collected everything and only then slice()d.
    * Ordering ties break on event_id; the path is emitted as an md5
    * scalar per the array-output convention.
    */
  val PathCap = 50
  val eventPaths: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        md5(concat_ws(">",
          transform(
            array_sort(collect_list(when(col("rn") <= PathCap,
              struct(col("ts"), col("event_id"), col("event_type"))))),
            x => x.getField("event_type")))).as("path_md5"))
      .orderBy("user_id")
  }

  /** q135: deterministic argmax / argmin / mode — the selection
    * aggregates (WHO had the max, not what it was) with explicit
    * tie-breaks: struct ordering pins (value, event_id) so the answer
    * is unique even under ties, where a bare max_by is free to pick
    * either. Mode is over a value bucket with largest-count /
    * smallest-bucket resolution.
    */
  val argmaxMode: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    val sel = e.groupBy("event_type")
      .agg(
        max(struct(col("value"), col("event_id"), col("user_id"))).as("mx"),
        min(struct(col("value"), col("event_id"), col("user_id"))).as("mn"))
      .select(
        col("event_type"),
        col("mx.user_id").as("top_user"),
        col("mx.value").as("top_value"),
        col("mn.user_id").as("bottom_user"),
        col("mn.value").as("bottom_value"))
    val mode = e
      .groupBy(col("event_type"), floor(col("value") / 50.0).cast("int").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(min(struct((-col("c")).as("negc"), col("bucket"))).as("m"))
      .select(col("event_type"), col("m.bucket").as("mode_bucket"),
        (-col("m.negc")).as("mode_count"))
    sel.join(mode, "event_type").orderBy("event_type")
  }

  /** The events table as the SensorEvent stream shape (user as the
    * device key) — the adapter that lets the STREAMING operators' batch
    * twins run under the DuckDB gate. Null keys/values are dropped on
    * both sides (a null device has no fold identity).
    */
  private def asSensorEvents(s: SparkSession, dir: String) = {
    import graft.model.SensorEvent
    implicit val enc = org.apache.spark.sql.Encoders.product[SensorEvent]
    Tables(s, dir, "events")
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(
        col("ts").as("time"),
        col("user_id").cast("string").as("device_id"),
        lit("user").as("device_type"),
        col("value"),
        lit("unit").as("unit"),
        lit(100).as("quality_score"),
        lit(false).as("is_anomaly"),
        lit("{}").as("metadata"))
      .as[SensorEvent]
  }

  /** q138: per-key EWMA drift — the batch twin of the streaming
    * mapGroupsWithState monitor, run through the REAL fold code
    * (StreamDrift.detectBatchDs), so the online monitor's arithmetic is
    * DuckDB-hash-checked, not just spec-checked.
    */
  val ewmaDrift: Q = (s, dir) =>
    graft.streaming.StreamDrift.detectBatchDs(asSensorEvents(s, dir)).toDF()
      .select(
        col("device_id").cast("long").as("user_id"),
        col("n_events"),
        round(col("ewma"), 6).as("ewma"),
        col("n_drift"))
      .orderBy("user_id")

  /** q139: gap sessionization via the streaming sessionizer's fold
    * (12 h gap — the events table's median per-user inter-arrival is
    * ~7 h, so sessions genuinely chain). The oracle rebuilds sessions
    * INDEPENDENTLY with lag + running break-sum windows, so this
    * checks the fold's semantics against a second formulation, unlike
    * the mirrored-construction oracles. Boundary times are emitted as
    * epoch ms (the fold's native resolution).
    */
  val SessionFoldGapSeconds = 43200L
  val sessionFold: Q = (s, dir) =>
    graft.streaming.StreamSessions.sessionizeBatch(asSensorEvents(s, dir), SessionFoldGapSeconds)
      .toDF()
      .select(
        col("device_id").cast("long").as("user_id"),
        unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("session_end")).as("end_ms"),
        col("n_events"),
        round(col("sum_value"), 6).as("sum_value"))
      .orderBy("user_id", "start_ms")

  /** q217: per-key two-sided CUSUM change detection — the batch twin of
    * the streaming mapGroupsWithState monitor (StreamCusum), run
    * through the REAL fold code so the change-point arithmetic (warmup
    * reference mean, slack-debited one-sided sums, restart-after-signal
    * alarms) is DuckDB-hash-checked, not just spec-checked.
    */
  val cusumShifts: Q = (s, dir) =>
    graft.streaming.StreamCusum.detectBatchDs(asSensorEvents(s, dir)).toDF()
      .select(
        col("device_id").cast("long").as("user_id"),
        col("n_events"),
        round(col("mu0"), 6).as("mu0"),
        round(col("sp"), 6).as("cusum_pos"),
        round(col("sn"), 6).as("cusum_neg"),
        col("n_alarms"))
      .orderBy("user_id")

  import Num.{O => N}

  val entries: Seq[Entry] = Seq(
    // The fold is replayed as a RECURSIVE CTE (one exact sequential
    // step per event) rather than a list_reduce struct lambda: DuckDB
    // 1.0's struct-lambda fields can observe sibling assignments from
    // the same construction, silently changing the drift test.
    Entry("q138_ewma_drift", ewmaDrift,
      """WITH RECURSIVE e0 AS (
        |  SELECT user_id, value,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, value) AS BIGINT) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |f(user_id, rn, n, e, d) AS (
        |  SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS DOUBLE), CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT user_id FROM e0)
        |  UNION ALL
        |  SELECT f.user_id, x.rn, f.n + 1,
        |    CASE WHEN f.n = 0 THEN x.value
        |         ELSE CAST(0.125 AS DOUBLE) * x.value + CAST(0.875 AS DOUBLE) * f.e END,
        |    f.d + CASE WHEN f.n >= 3 AND abs(x.value - f.e) > CAST(30.0 AS DOUBLE) THEN 1 ELSE 0 END
        |  FROM f JOIN e0 x ON x.user_id = f.user_id AND x.rn = f.rn + 1),
        |last AS (SELECT user_id, MAX(rn) AS rn FROM f GROUP BY user_id)
        |SELECT f.user_id, f.n AS n_events, round(f.e, 6) AS ewma, f.d AS n_drift
        |FROM f JOIN last USING (user_id, rn) ORDER BY user_id""".stripMargin),
    Entry("q217_cusum_shifts", cusumShifts, {
      val sp = "greatest(CAST(0 AS DOUBLE), f.sp + (x.value - f.su / 5.0 - 50.0))"
      val sn = "greatest(CAST(0 AS DOUBLE), f.sn + (f.su / 5.0 - x.value - 50.0))"
      s"""WITH RECURSIVE e0 AS (
         |  SELECT user_id, value,
         |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, value) AS BIGINT) AS rn
         |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
         |f(user_id, rn, n, su, sp, sn, a) AS (
         |  SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS DOUBLE),
         |    CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS BIGINT)
         |  FROM (SELECT DISTINCT user_id FROM e0)
         |  UNION ALL
         |  SELECT f.user_id, x.rn, f.n + 1,
         |    CASE WHEN f.n < 5 THEN f.su + x.value ELSE f.su END,
         |    CASE WHEN f.n < 5 THEN CAST(0 AS DOUBLE)
         |         WHEN $sp > 300.0 THEN CAST(0 AS DOUBLE) ELSE $sp END,
         |    CASE WHEN f.n < 5 THEN CAST(0 AS DOUBLE)
         |         WHEN $sn > 300.0 THEN CAST(0 AS DOUBLE) ELSE $sn END,
         |    f.a + CASE WHEN f.n >= 5 AND $sp > 300.0 THEN 1 ELSE 0 END
         |        + CASE WHEN f.n >= 5 AND $sn > 300.0 THEN 1 ELSE 0 END
         |  FROM f JOIN e0 x ON x.user_id = f.user_id AND x.rn = f.rn + 1),
         |last AS (SELECT user_id, MAX(rn) AS rn FROM f GROUP BY user_id)
         |SELECT f.user_id, f.n AS n_events,
         |  round(CASE WHEN f.n >= 5 THEN f.su / 5.0
         |             WHEN f.n > 0 THEN f.su / f.n ELSE 0.0 END, 6) AS mu0,
         |  round(f.sp, 6) AS cusum_pos, round(f.sn, 6) AS cusum_neg,
         |  f.a AS n_alarms
         |FROM f JOIN last USING (user_id, rn) ORDER BY user_id""".stripMargin
    }),
    Entry("q139_session_fold", sessionFold,
      s"""WITH w AS (SELECT user_id, ts, value,
         |         CASE WHEN lag(ts) OVER win IS NULL
         |              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER win) > ${SessionFoldGapSeconds * 1000L}
         |              THEN 1 ELSE 0 END AS brk
         |       FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
         |       WINDOW win AS (PARTITION BY user_id ORDER BY ts, value)),
         |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, value
         |                               ROWS UNBOUNDED PRECEDING) AS sid FROM w)
         |SELECT user_id, epoch_ms(MIN(ts)) AS start_ms, epoch_ms(MAX(ts)) AS end_ms,
         |  COUNT(*) AS n_events,
         |  round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value
         |FROM g GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin),
    Entry("q135_argmax_mode", argmaxMode,
      """WITH mx AS (SELECT event_type, user_id AS top_user, value AS top_value FROM (
        |       SELECT event_type, user_id, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id DESC) AS rn
        |       FROM events) WHERE rn = 1),
        |mn AS (SELECT event_type, user_id AS bottom_user, value AS bottom_value FROM (
        |       SELECT event_type, user_id, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn
        |       FROM events) WHERE rn = 1),
        |md AS (SELECT event_type, bucket AS mode_bucket, c AS mode_count FROM (
        |       SELECT event_type, bucket, c,
        |         row_number() OVER (PARTITION BY event_type ORDER BY c DESC, bucket ASC) AS rn
        |       FROM (SELECT event_type, CAST(floor(value / 50.0) AS INT) AS bucket, COUNT(*) AS c
        |             FROM events GROUP BY 1, 2)) WHERE rn = 1)
        |SELECT event_type, top_user, top_value, bottom_user, bottom_value, mode_bucket, mode_count
        |FROM mx JOIN mn USING (event_type) JOIN md USING (event_type)
        |ORDER BY event_type""".stripMargin),
    Entry("q119_string_surface", stringSurface,
      """SELECT doc_id,
        |  upper(lang) AS lang_up,
        |  lpad(source, 8, '_') AS src_pad,
        |  reverse(lang) AS lang_rev,
        |  substr(text, 1, 12) AS prefix12,
        |  CAST(strpos(text, 'the') AS INT) AS the_pos,
        |  translate(lang, 'aeiou', 'AEIOU') AS lang_tr,
        |  repeat(lang, 2) AS lang2,
        |  starts_with(text, 'the') AS starts_the,
        |  ends_with(text, 's') AS ends_s,
        |  contains(text, 'data') AS has_data
        |FROM documents ORDER BY doc_id""".stripMargin),
    Entry("q120_agg_surface", aggSurface,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(count_if(value > 100) AS BIGINT) AS n_high,
        |  bool_and(value >= 0) AS all_nonneg,
        |  bool_or(value > 400) AS any_gt400,
        |  round(median(value), 6) AS median_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Entry("q121_event_paths", eventPaths,
      """WITH w AS (SELECT user_id, event_type, ts, event_id,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |           FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  md5(string_agg(CASE WHEN rn <= 50 THEN event_type END, '>' ORDER BY ts, event_id)) AS path_md5
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin),
    Entry("q15_asof_join", asof,
      """WITH l AS (SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS rid,
        |             CAST(NULL AS STRUCT(asof_ts TIMESTAMP, asof_event_id BIGINT, asof_value DOUBLE)) AS p,
        |             1 AS side
        |           FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id, event_id AS rid,
        |             struct_pack(asof_ts := CAST(ts AS TIMESTAMP), asof_event_id := event_id, asof_value := value) AS p,
        |             0 AS side
        |      FROM events WHERE event_type = 'click'),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |c AS (SELECT *,
        |        last_value(p IGNORE NULLS) OVER w AS af
        |      FROM u
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, rid
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts, af.asof_event_id AS asof_event_id,
        |  af.asof_value AS asof_value, af.asof_ts AS asof_ts,
        |  CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(af.asof_ts)) AS BIGINT) AS gap_seconds
        |FROM c WHERE side = 1 ORDER BY event_id""".stripMargin),
    Entry("q16_sessions", sessions,
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts, 1) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, event_id,
        |        CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |      FROM g)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_seconds
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),
    Entry("q17_rollup", rollup,
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
         |  ${N.sum("l_quantity")} AS sum_qty,
         |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Entry("q18_count_distinct", countDistinct,
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(DISTINCT CASE WHEN value > 250 THEN user_id END) AS n_big_spenders
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Entry("q64_session_window", sessionWindow,
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts, 1) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |      FROM g)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_seconds
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin)
  )
}
