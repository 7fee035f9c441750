package graft.ops

import graft.{Q, Tables}
import graft.functions.DecimalKernels.dec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics (SURVEY.md §2.8 JSON/date functions, §2.3 J5 range
  * association, §2.9 batch analogs of the streaming ops) over `events`.
  *
  * Reference anchors: JSON piercing of `raw_json`
  * (`scripts/export_for_julius.py:29-36`, F1–F3), the [-5s,+2s] pre-rug
  * window association (`scripts/analyze_pre_rug_events.py:68-98`, J5),
  * per-bucket event-type counts (F12), and session/windowed stats
  * (`session_tracker.py:107-232`, T9).
  */
object EventQueries {

  // ---------------------------------------------------------------------------
  // q26 — JSON extraction (F1/F2/F3): pierce the `props` JSON document column
  // exactly as the reference pierces `raw_json` with json_extract_string.
  val q26JsonExtract: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min("k").as("min_k"), max("k").as("max_k"),
        (sum(col("k").cast("long")).cast("double") / count(col("k"))).as("avg_k"))
      .orderBy("event_type")
  val q26Sql: String =
    """SELECT event_type, count(*) AS n,
      |  min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
      |    / count(CAST(json_extract_string(props, '$.k') AS INT)) AS avg_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------------
  // q27 — time-window range association (J5): for each rare anchor event,
  // count same-user events in the preceding 48 hours — the reference's
  // [-5s,+2s] bucket-around-rug-timestamp pattern. The anchor side is tiny
  // (selective filter) ⇒ broadcast; the big side never shuffles.
  val q27RangeJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val anchors = ev.filter(col("event_type") === "purchase" && col("value") > 300)
      .select(col("event_id").as("anchor_id"), col("user_id").as("anchor_user"),
        col("ts").as("anchor_ts"))
    ev.join(broadcast(anchors),
        col("user_id") === col("anchor_user") &&
          col("ts") >= col("anchor_ts") - expr("INTERVAL 48 HOURS") &&
          col("ts") < col("anchor_ts"))
      .groupBy("anchor_id")
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"))
      .orderBy("anchor_id")
  }
  val q27Sql: String =
    """WITH anchors AS (
      |  SELECT event_id AS anchor_id, user_id AS anchor_user, ts AS anchor_ts
      |  FROM events WHERE event_type = 'purchase' AND value > 300)
      |SELECT anchor_id, count(*) AS n_before,
      |  CAST(sum(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
      |FROM events e JOIN anchors a
      |  ON e.user_id = a.anchor_user
      | AND e.ts >= a.anchor_ts - INTERVAL 48 HOUR
      | AND e.ts < a.anchor_ts
      |GROUP BY anchor_id ORDER BY anchor_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q28 — gap-based sessionization (T9/T8 batch analog): a >30-min silence
  // starts a new session; per-user session stats. Gap math in integer µs —
  // exact in both engines (Spark unix_micros ≡ DuckDB epoch_us).
  val q28Sessionize: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
    Tables.events(s, d)
      .withColumn("new_session",
        when(gapUs.isNull || gapUs > 1800000000L, 1).otherwise(0))
      .withColumn("session_no",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("duration_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max("n_events").as("max_session_events"),
        sum("duration_us").as("total_session_us"))
      .orderBy("user_id")
  }
  val q28Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
      |           > 1800000000 OR lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, event_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM flagged),
      |per_session AS (
      |  SELECT user_id, session_no, count(*) AS n_events,
      |    epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
      |  FROM sessions GROUP BY user_id, session_no)
      |SELECT user_id, count(*) AS n_sessions,
      |  max(n_events) AS max_session_events,
      |  CAST(sum(duration_us) AS BIGINT) AS total_session_us
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q29 — daily active users (A2 per time bucket): date partition-key
  // derivation (`writer.py:127`) + COUNT DISTINCT per bucket.
  val q29DailyActive: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("dau"),
        count(lit(1)).as("n_events"),
        // (8,2): events.value is 2-decimal, < 10^3 (CoreQueries.dsum
        // contract — Spark sums a p ≤ 8 decimal in a long)
        sum(dec(col("value"), 8, 2)).cast("double").as("sum_value"))
      .orderBy("day")
  val q29Sql: String =
    """SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS dau,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // q30 — per-bucket event-type count matrix (F12/A12): the reference's
  // per-second event-type count maps (`analyze_pre_rug_events.py:74-98`),
  // expressed as a pivot — one shuffle, map-side partial aggregation.
  val q30TypePivot: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")
  val q30Sql: String =
    """SELECT user_id,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS "error",
      |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS "view"
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q31 — hourly event-rate rollup (T10 batch analog: rate / degradation
  // monitoring as windowed counts over time buckets).
  val q31HourlyRate: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("hour", "event_type")
  val q31Sql: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------------
  // q67 — as-of join (the trades-vs-quotes classic; the builder mandate
  // names it as an operator Spark lacks natively): each `purchase` event
  // picks the SAME USER's latest `view` event at-or-before its timestamp.
  // Implemented as the scalable sorted-merge pattern, not a correlated
  // subquery: tag both streams, union, ONE shuffle on the key, and a
  // single partition-local ordered pass carrying the last quote forward
  // (`last(_, ignoreNulls)` over rows-unbounded-preceding). On equal ts
  // the quote sorts before the trade (side 0 < 1) — exactly the <=
  // semantics of DuckDB's native ASOF LEFT JOIN, which is the oracle.
  // At 100 TB this is the plan you want: no per-trade probe, no range
  // blow-up, both inputs shuffle once by user and merge in sort order.
  // (user_id, ts) is unique in the table, so the match is deterministic.
  private val QuoteStruct =
    "struct<quote_id:bigint,quote_ts:timestamp,quote_value:double>"
  val q67AsofJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val quotes = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("bigint").as("trade_id"),
        struct(col("event_id").as("quote_id"), col("ts").as("quote_ts"),
          col("value").as("quote_value")).as("q"))
    val trades = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        col("event_id").as("trade_id"),
        lit(null).cast(QuoteStruct).as("q"))
    val w = Window.partitionBy("user_id").orderBy("ts", "side")
      .rowsBetween(Window.unboundedPreceding, 0)
    quotes.unionByName(trades)
      .withColumn("qc", last(col("q"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("trade_id"), col("user_id"), col("ts").as("trade_ts"),
        col("qc.quote_id").as("quote_id"), col("qc.quote_ts").as("quote_ts"),
        col("qc.quote_value").as("quote_value"))
      .orderBy("trade_id")
  }
  val q67Sql: String =
    """WITH trades AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |quotes AS (
      |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view')
      |SELECT t.event_id AS trade_id, t.user_id, t.ts AS trade_ts,
      |  q.event_id AS quote_id, q.ts AS quote_ts, q.value AS quote_value
      |FROM trades t ASOF LEFT JOIN quotes q
      |  ON t.user_id = q.user_id AND q.ts <= t.ts
      |ORDER BY trade_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q68 — OHLC time-bar downsampling (tick series → hourly candles; the
  // reference's candleflip/price-tick domain distilled to its storage
  // form): per (event_type, hour) the first/max/min/last value. open and
  // close are single-pass min_by/max_by on a (ts, event_id) struct order —
  // NOT a rank window: the aggregate is map-side combinable, so at 100 TB
  // each partition reduces to one row per (type, hour) before the
  // shuffle, where a row_number window would shuffle every tick.
  val q68OhlcBars: Q = (s, d) => {
    val ord = struct(col("ts"), col("event_id"))
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(
        min_by(col("value"), ord).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), ord).as("close"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type", "bucket")
  }
  // the oracle orders open/close by the same (ts, event_id) pair; DuckDB's
  // arg_min only takes a single ordering column, so it uses rank windows —
  // the Spark side deliberately does NOT (see the plan note above)
  val q68Sql: String =
    """WITH b AS (
      |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
      |    ts, event_id, value
      |  FROM events),
      |w AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, bucket
      |      ORDER BY ts, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY event_type, bucket
      |      ORDER BY ts DESC, event_id DESC) AS rn_z
      |  FROM b)
      |SELECT event_type, bucket,
      |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  max(CASE WHEN rn_z = 1 THEN value END) AS close,
      |  count(*) AS n_events
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------------
  // q70 — ordered funnel analysis (view → click → purchase): per user, the
  // first view, the first click strictly after it, the first purchase
  // strictly after that, and the funnel stage reached. The ORDER matters —
  // a click before any view does not advance the funnel — which is what
  // separates this from q30's per-type counts. Shape: one filtered scan +
  // map-side-combinable min() per stage, each stage joining the previous
  // stage's per-user relation (tiny vs events; AQE broadcasts it — no
  // explicit hint because at 10^9 users a forced broadcast would be the
  // bug). min(ts) per user is unique (per-user ts collisions don't exist,
  // and min is deterministic regardless).
  val q70Funnel: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("view_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("view_ts"))
      .groupBy("user_id").agg(min("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("click_ts"))
      .groupBy("user_id").agg(min("ts").as("purchase_ts"))
    ev.select("user_id").distinct()
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .withColumn("stage",
        when(col("purchase_ts").isNotNull, 3)
          .when(col("click_ts").isNotNull, 2)
          .when(col("view_ts").isNotNull, 1)
          .otherwise(0))
      .select("user_id", "view_ts", "click_ts", "purchase_ts", "stage")
      .orderBy("user_id")
  }
  val q70Sql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |v AS (
      |  SELECT user_id, min(ts) AS view_ts FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS click_ts
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS purchase_ts
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY e.user_id)
      |SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts,
      |  CASE WHEN p.purchase_ts IS NOT NULL THEN 3
      |       WHEN c.click_ts IS NOT NULL THEN 2
      |       WHEN v.view_ts IS NOT NULL THEN 1 ELSE 0 END AS stage
      |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
      |  LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q71 — retention cohort matrix: users cohorted by their signup week
  // (ISO week of first `signup` event), counted as retained in each week
  // they produced ANY event. week_offset is an exact integer (both
  // timestamps are week-truncated, so the day difference is a multiple of
  // 7 — `div` is exact, no float date math). Two map-side-combinable
  // aggregations + one join on user; cohort sizes are recoverable as
  // week_offset = 0 rows.
  val q71Retention: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(date_trunc("week", col("ts"))).as("cohort_week"))
    ev.join(cohort, "user_id")
      .select(col("user_id"), col("cohort_week"),
        expr("datediff(date_trunc('week', ts), cohort_week) div 7")
          .as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }
  val q71Sql: String =
    """WITH cohort AS (
      |  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id)
      |SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
      |  date_diff('day', cohort_week, date_trunc('week', e.ts)) // 7 AS week_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM events e JOIN cohort USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, Q] = Map(
    "q70_funnel" -> q70Funnel,
    "q71_retention" -> q71Retention,
    "q26_json_extract" -> q26JsonExtract,
    "q27_range_join" -> q27RangeJoin,
    "q28_sessionize" -> q28Sessionize,
    "q29_daily_active" -> q29DailyActive,
    "q30_type_pivot" -> q30TypePivot,
    "q31_hourly_rate" -> q31HourlyRate,
    "q67_asof_join" -> q67AsofJoin,
    "q68_ohlc_bars" -> q68OhlcBars)

  val oracles: Map[String, String] = Map(
    "q70_funnel" -> q70Sql,
    "q71_retention" -> q71Sql,
    "q26_json_extract" -> q26Sql,
    "q27_range_join" -> q27Sql,
    "q28_sessionize" -> q28Sql,
    "q29_daily_active" -> q29Sql,
    "q30_type_pivot" -> q30Sql,
    "q31_hourly_rate" -> q31Sql,
    "q67_asof_join" -> q67Sql,
    "q68_ohlc_bars" -> q68Sql)
}
