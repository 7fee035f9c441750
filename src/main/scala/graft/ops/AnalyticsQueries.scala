package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Domain-analytics operators re-expressed relationally over the `events`
  * stream table (user_id ≈ game_id, event_id ≈ seq, value ≈ price), each
  * oracle-checked against DuckDB row-for-row. q45 (volatility metrics), q52
  * (vol-of-vol) and q50 (observation features) are the engine's one form of
  * those capabilities; AnalyticsQueriesSpec pins their reference semantics.
  *
  * Reference anchors: per-game volatility metrics (A15,
  * `scripts/volatility_study.py:53-137`), equity-curve compounding (A16,
  * `src/core/game_state.py:1003-1042` + backtest wallet fold
  * `backtest_service.py:358-572`), RL observation builder (D2,
  * `src/rl/envs/sidebet_v1_env.py:33-135`).
  *
  * Determinism notes: returns/ratios are exact float ops; stddev and
  * exp/ln-derived columns are rounded (engine-specific accumulation order /
  * last-ulp libm differences).
  */
object AnalyticsQueries {

  private val wOrd = Window.partitionBy("user_id").orderBy("event_id")
  private val wRun = wOrd.rowsBetween(Window.unboundedPreceding, 0)

  // ---------------------------------------------------------------------------
  // q45 — per-entity volatility metrics (A15): population stddev of price,
  // simple and log returns, range, high/low ratio, spike count (|ret|>10%) —
  // volatility_study.py:53-137 computed with ONE window pass + one groupBy
  // (map-side partial aggregation; no arrays materialized).
  val q45Volatility: Q = (s, d) => {
    val prev = lag(col("value"), 1).over(wOrd)
    Tables.events(s, d)
      // P8 clean before the window, as the study does (`prices[prices > 0]`,
      // volatility_study.py:88-90): a zero/negative price leaves every
      // metric, and the return across it spans the removed row
      .filter(col("value") > 0)
      .withColumn("ret", col("value") / prev - 1)
      .withColumn("log_ret", log(col("value") / prev))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_ticks"),
        round(stddev_pop(col("value")), 4).as("price_std"),
        round(stddev_pop(col("ret")), 4).as("return_std"),
        round(stddev_pop(col("log_ret")), 4).as("log_return_std"),
        round(max(col("value")) - min(col("value")), 6).as("price_range"),
        round(max(col("value")) / min(col("value")), 6).as("high_low_ratio"),
        sum(when(abs(col("ret")) > 0.10, 1).otherwise(0)).as("spike_count"))
      .orderBy("user_id")
  }
  val q45Sql: String =
    """WITH r AS (
      |  SELECT user_id, value,
      |    value / lag(value) OVER w - 1 AS ret,
      |    ln(value / lag(value) OVER w) AS log_ret
      |  FROM events WHERE value > 0
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
      |SELECT user_id, count(*) AS n_ticks,
      |  round(stddev_pop(value), 4) AS price_std,
      |  round(stddev_pop(ret), 4) AS return_std,
      |  round(stddev_pop(log_ret), 4) AS log_return_std,
      |  round(max(value) - min(value), 6) AS price_range,
      |  round(max(value) / min(value), 6) AS high_low_ratio,
      |  CAST(sum(CASE WHEN abs(ret) > 0.10 THEN 1 ELSE 0 END) AS BIGINT) AS spike_count
      |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q46 — equity-curve compounding (A16/D8): the sequential wallet fold
  // bankroll_t = b0·∏(1 + r_i) becomes a distributed prefix aggregation in
  // log space: exp(Σ log1p(r_i)) over the running frame — no driver-side
  // loop, partition-local per entity. Half-fraction participation keeps the
  // product from telescoping. Running peak + drawdown on top (W3/W4 shape).
  // No P8 cleaning: the wallet fold (`backtest_service.py:358-572`) steps
  // through every tick, so a non-positive price stays a row and compounds
  // as a flat step, and so does the row after it (see COVERAGE.md P8).
  val q46Equity: Q = (s, d) => {
    val prev = lag(col("value"), 1).over(wOrd)
    // bad ticks (zero price / zero prev / first row) participate as flat
    val r = coalesce(when(col("value") > 0 && prev > 0,
      col("value") / prev - 1), lit(0.0)) * 0.5
    Tables.events(s, d)
      .withColumn("lr", log(lit(1.0) + r))
      .withColumn("log_bankroll", sum(col("lr")).over(wRun))
      .withColumn("log_peak", max(col("log_bankroll")).over(wRun))
      .select(col("event_id"), col("user_id"),
        round(col("log_bankroll"), 6).as("log_bankroll"),
        round(col("log_peak"), 6).as("log_peak"),
        // drawdown = 1 - bankroll/peak computed in log space: the exp
        // argument is <= 0, so the result stays in [0, 1) at any scale
        // (exp of the raw sum overflows rounding at large magnitudes)
        round(lit(1.0) - exp(col("log_bankroll") - col("log_peak")), 6)
          .as("drawdown"))
      .orderBy("event_id")
  }
  val q46Sql: String =
    """WITH r AS (
      |  SELECT event_id, user_id,
      |    ln(1.0 + coalesce(CASE WHEN value > 0 AND lag(value) OVER w > 0
      |      THEN value / lag(value) OVER w - 1 END, 0.0) * 0.5) AS lr
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |b AS (
      |  SELECT event_id, user_id,
      |    sum(lr) OVER wrun AS log_bankroll
      |  FROM r
      |  WINDOW wrun AS (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id,
      |  round(log_bankroll, 6) AS log_bankroll,
      |  round(max(log_bankroll) OVER wrun, 6) AS log_peak,
      |  round(1.0 - exp(log_bankroll - max(log_bankroll) OVER wrun), 6) AS drawdown
      |FROM b
      |WINDOW wrun AS (PARTITION BY user_id ORDER BY event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q50 — RL observation builder (D2, sidebet_v1_env.py:33-135): running
  // peak, rows since peak, drawdown-from-peak, 5-row momentum, 10-row
  // volatility, per-second velocity — one shared window family, all
  // partition-local per entity. No P8 cleaning: the environment observes
  // every price (`sidebet_v1_env.py:237-338`), so a non-positive price
  // stays an observation; its drawdown is NULL while the running peak is 0
  // (see COVERAGE.md P8).
  val q50ObsFeatures: Q = (s, d) => {
    val w10 = wOrd.rowsBetween(-9, 0)
    val rn = row_number().over(wOrd)
    val runPeak = max(col("value")).over(wRun)
    val peakRn = max(struct(col("value"), (-rn).as("neg_rn"))).over(wRun)("neg_rn") * -1
    val prev1 = lag(col("value"), 1).over(wOrd)
    val prevTs = lag(col("ts"), 1).over(wOrd)
    val gapUs = unix_micros(col("ts")) - unix_micros(prevTs)
    Tables.events(s, d)
      .withColumn("rn", rn)
      .select(col("event_id"), col("user_id"), col("value"),
        runPeak.as("running_peak"),
        (col("rn") - peakRn).cast("long").as("rows_since_peak"),
        // guarded: a zero first price makes the running peak 0
        // (ANSI Spark errors on /0; DuckDB float-divides)
        // `+ 0.0` normalizes IEEE -0.0 to +0.0 (x + (+0.0) = +0.0 when
        // x = -0.0): DuckDB's round keeps the sign of a tiny negative,
        // Spark's BigDecimal round drops it — bit-identical hashes need one
        // convention on both sides
        when(runPeak > 0, round(col("value") / runPeak - 1, 6) + 0.0)
          .as("drawdown_from_peak"),
        (col("value") - lag(col("value"), 5).over(wOrd)).as("momentum_5"),
        when(count(lit(1)).over(w10) >= 2, round(stddev(col("value")).over(w10), 3))
          .as("vol_10"),
        when(gapUs > 0,
          round((col("value") - prev1) / (gapUs.cast("double") / 1e6), 6) + 0.0)
          .as("velocity"))
      .orderBy("event_id")
  }
  val q50Sql: String =
    """WITH base AS (
      |  SELECT event_id, user_id, value, ts,
      |    row_number() OVER w AS rn,
      |    max(value) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_peak,
      |    CASE WHEN value > coalesce(max(value) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1e308) THEN 1 ELSE 0 END AS is_new_high,
      |    lag(value) OVER w AS prev1,
      |    lag(value, 5) OVER w AS prev5,
      |    epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
      |    CASE WHEN count(*) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) >= 2
      |      THEN round(stddev_samp(value) OVER (PARTITION BY user_id ORDER BY event_id
      |        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 3) END AS vol_10
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
      |SELECT event_id, user_id, value, running_peak,
      |  rn - max(CASE WHEN is_new_high = 1 THEN rn END) OVER (PARTITION BY user_id ORDER BY rn
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rows_since_peak,
      |  CASE WHEN running_peak > 0
      |    THEN round(value / running_peak - 1, 6) + 0.0 END AS drawdown_from_peak,
      |  value - prev5 AS momentum_5,
      |  vol_10,
      |  CASE WHEN gap_us > 0 THEN round((value - prev1) / (CAST(gap_us AS DOUBLE) / 1e6), 6) + 0.0 END AS velocity
      |FROM base ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q52 — vol-of-vol (W7, `scripts/volatility_study.py:114-118`): pandas
  // rolling(10).std() over tick returns — SAMPLE std, full windows only
  // (shorter prefixes are NaN and dropped) — then POPULATION std of the
  // rolling series per entity; 0.0 below 20 returns. Relational form: rank
  // the non-null returns, rolling stddev_samp over 9 preceding, keep frames
  // with rn >= 10, stddev_pop in the final groupBy. Prices are P8-cleaned
  // before the returns, as in q45.
  val q52VolOfVol: Q = (s, d) => {
    val prev = lag(col("value"), 1).over(wOrd)
    val base = Tables.events(s, d)
      .filter(col("value") > 0)
      .withColumn("ret", col("value") / prev - 1)
      .filter(col("ret").isNotNull)
    val wr = Window.partitionBy("user_id").orderBy("event_id")
    val w10 = wr.rowsBetween(-9, 0)
    base
      .withColumn("rn", row_number().over(wr))
      .withColumn("roll_vol",
        when(col("rn") >= 10, stddev(col("ret")).over(w10)))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_returns"),
        when(count(lit(1)) >= 20,
          round(coalesce(stddev_pop(col("roll_vol")), lit(0.0)), 4))
          .otherwise(0.0).as("vol_of_vol"))
      .orderBy("user_id")
  }
  val q52Sql: String =
    """WITH r AS (
      |  SELECT user_id, event_id,
      |    value / lag(value) OVER w - 1 AS ret
      |  FROM events WHERE value > 0
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |f AS (SELECT user_id, event_id, ret FROM r WHERE ret IS NOT NULL),
      |n AS (
      |  SELECT user_id, ret,
      |    row_number() OVER w AS rn,
      |    stddev_samp(ret) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS roll_vol
      |  FROM f
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
      |SELECT user_id, count(*) AS n_returns,
      |  CASE WHEN count(*) >= 20
      |    THEN round(coalesce(stddev_pop(CASE WHEN rn >= 10 THEN roll_vol END), 0.0), 4)
      |    ELSE 0.0 END AS vol_of_vol
      |FROM n GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q53 — sidebet outcome labeler (D4, `explorer_data.py:21-24,105-135` +
  // `backtest_service.py:397-520`), the reference's most business-critical
  // derived table (sidebets_deduplicated). Relational re-expression over
  // events: the rug tick is the rank of the largest single-step drop per
  // entity (earliest wins ties — D5's argmax), bets are the 'purchase'
  // events at their sequence rank, and the labels are pure window
  // arithmetic: win iff start <= rug <= start+39, near-miss = lost by <= 5
  // ticks, optimal zone = start >= 200, payout 5:1. The per-entity rug
  // lookup broadcasts (one row per entity — a classic small-dim join).
  // The argmax is max_by over (drop, -rn) — a map-side-combinable groupBy
  // (one slim struct per entity per partition shuffles), NOT a rank window,
  // which would full-sort every entity's drops just to keep row 1.
  val q53SidebetLabels: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("prev", lag(col("value"), 1).over(wOrd))
    val drops = ev.filter(col("prev").isNotNull)
      .withColumn("drop", col("prev") - col("value"))
    val rug = drops
      .groupBy("user_id")
      // earliest rn wins ties => maximize (drop, -rn) lexicographically
      .agg(max_by(col("rn").cast("long"),
        struct(col("drop"), -col("rn"))).as("rug_tick"))
    val bets = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        col("rn").cast("long").as("start_tick"),
        col("value").as("bet_amount"))
    val won = col("rug_tick") >= col("start_tick") &&
      col("rug_tick") <= col("start_tick") + 39
    bets.join(broadcast(rug), Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("start_tick"),
        col("bet_amount"), col("rug_tick"),
        won.as("bet_won"),
        (col("rug_tick") - col("start_tick")).as("ticks_to_rug"),
        (!won && col("rug_tick") - col("start_tick") > 39 &&
          col("rug_tick") - col("start_tick") <= 44).as("was_near_miss"),
        (col("start_tick") >= 200).as("bet_in_optimal_zone"),
        // + 0.0 normalizes the -0.0 a zero-amount losing bet would produce
        (when(won, col("bet_amount") * 5.0).otherwise(-col("bet_amount")) + 0.0)
          .as("payout"))
      .orderBy("event_id")
  }
  val q53Sql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, event_type, value,
      |    row_number() OVER w AS rn,
      |    lag(value) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |rug AS (
      |  SELECT user_id, CAST(rn AS BIGINT) AS rug_tick FROM (
      |    SELECT user_id, rn,
      |      row_number() OVER (PARTITION BY user_id ORDER BY prev - value DESC, rn ASC) AS rk
      |    FROM t WHERE prev IS NOT NULL) WHERE rk = 1),
      |bets AS (
      |  SELECT user_id, event_id, CAST(rn AS BIGINT) AS start_tick, value AS bet_amount
      |  FROM t WHERE event_type = 'purchase')
      |SELECT b.user_id, b.event_id, b.start_tick, b.bet_amount, r.rug_tick,
      |  r.rug_tick BETWEEN b.start_tick AND b.start_tick + 39 AS bet_won,
      |  r.rug_tick - b.start_tick AS ticks_to_rug,
      |  (NOT r.rug_tick BETWEEN b.start_tick AND b.start_tick + 39)
      |    AND r.rug_tick - b.start_tick > 39
      |    AND r.rug_tick - b.start_tick <= 44 AS was_near_miss,
      |  b.start_tick >= 200 AS bet_in_optimal_zone,
      |  (CASE WHEN r.rug_tick BETWEEN b.start_tick AND b.start_tick + 39
      |    THEN b.bet_amount * 5.0 ELSE -b.bet_amount END) + 0.0 AS payout
      |FROM bets b JOIN rug r USING (user_id)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q54 — base rug probability curve (F11, `bayesian_rug_signal.py:186-242`):
  // each event's 0-based sequence rank is its tick count; the probability is
  // the piecewise-linear expert curve as a codegen'd CASE ladder. The SQL
  // text is GENERATED from the same knots (RugSignal.baseRugProbabilitySql),
  // so Spark and oracle cannot drift.
  val q54RugProbability: Q = (s, d) => {
    import graft.domain.RugSignal
    Tables.events(s, d)
      .withColumn("tick", row_number().over(wOrd) - 1)
      .select(col("event_id"), col("user_id"), col("tick"),
        RugSignal.baseRugProbability(col("tick")).as("base_rug_prob"))
      .orderBy("event_id")
  }
  val q54Sql: String = {
    val ladder = graft.domain.RugSignal.baseRugProbabilitySql("tick")
    s"""WITH t AS (
       |  SELECT event_id, user_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS tick
       |  FROM events)
       |SELECT event_id, user_id, tick,
       |  $ladder AS base_rug_prob
       |FROM t ORDER BY event_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q56 — deterministic stratified sampling for corpus mixing: every
  // training-data pipeline downsamples per stratum (here lang) to hit a
  // target mixture. The sampler is the D9 hash split (md5 -> [0,1),
  // graft.hashBucket01) gated per-stratum, NOT rand(): the same corpus
  // always yields the same sample (resumable, auditable, join-stable),
  // and membership is decided at scan speed with zero shuffle — the only
  // aggregation is the tiny per-stratum report. Rates: en kept at 80%,
  // mid-resource halved, tail languages 10%.
  val q56StratifiedSample: Q = (s, d) => {
    val rate = when(col("lang") === "en", 0.8)
      .when(col("lang").isin("zh", "es", "de", "fr"), 0.5)
      .otherwise(0.1)
    Tables.documents(s, d)
      .filter(graft.hashBucket01(col("doc_id")) < rate)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        // the sample is reproducible, so its id-sum is a stable fingerprint
        sum(col("doc_id")).as("id_sum"))
      .orderBy("lang")
  }
  val q56Sql: String =
    """SELECT lang, count(*) AS n_sampled,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM documents
      |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |        / 4294967295.0
      |      < CASE WHEN lang = 'en' THEN 0.8
      |             WHEN lang IN ('zh', 'es', 'de', 'fr') THEN 0.5
      |             ELSE 0.1 END
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------------
  // q72 — weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
  // a fixed-size sample where inclusion probability tracks a weight —
  // the "sample 100k docs, long documents proportionally more often" step
  // of corpus assembly, where q56's rate gate can't hit an exact budget.
  // priority = u^(1/w) with u the DETERMINISTIC md5 bucket (D9) — not
  // rand(), so the draw is reproducible, auditable, and join-stable; the
  // top-k by priority IS a weighted draw without replacement (the A-ES
  // theorem). Priorities are rounded 6dp BEFORE ranking (the q40/q65
  // convention: pow is libm on both engines) with doc_id tie-break.
  // Scale shape: priority is scan-local; top-k plans as
  // TakeOrderedAndProject (per-partition heaps + one k-row merge — no
  // global sort of the corpus).
  val WSampleK = 100
  val q72WeightedSample: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("priority",
        round(pow(graft.hashBucket01(col("doc_id")),
          lit(1.0) / col("n_chars").cast("double")), 6))
      .orderBy(desc("priority"), asc("doc_id"))
      .limit(WSampleK)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("priority"))
  val q72Sql: String =
    s"""SELECT doc_id, lang, n_chars,
       |  round(pow(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |          / 4294967295.0,
       |        1.0 / CAST(n_chars AS DOUBLE)), 6) AS priority
       |FROM documents
       |ORDER BY priority DESC, doc_id ASC LIMIT $WSampleK""".stripMargin

  val queries: Map[String, Q] = Map(
    "q72_weighted_sample" -> q72WeightedSample,
    "q56_stratified_sample" -> q56StratifiedSample,
    "q45_volatility_metrics" -> q45Volatility,
    "q46_equity_curve" -> q46Equity,
    "q50_obs_features" -> q50ObsFeatures,
    "q52_vol_of_vol" -> q52VolOfVol,
    "q53_sidebet_labels" -> q53SidebetLabels,
    "q54_rug_probability" -> q54RugProbability)

  val oracles: Map[String, String] = Map(
    "q72_weighted_sample" -> q72Sql,
    "q56_stratified_sample" -> q56Sql,
    "q45_volatility_metrics" -> q45Sql,
    "q46_equity_curve" -> q46Sql,
    "q50_obs_features" -> q50Sql,
    "q52_vol_of_vol" -> q52Sql,
    "q53_sidebet_labels" -> q53Sql,
    "q54_rug_probability" -> q54Sql)
}
