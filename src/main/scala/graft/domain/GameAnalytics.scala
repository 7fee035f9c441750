package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Domain analytics over `complete_game` documents: dedup, flattening,
  * labeling — the reference's batch-ETL layer that produces the derived
  * tables of SURVEY §1.3 (games_with_prices, games_deduplicated,
  * sidebets_deduplicated). The fourth, volatility_metrics, is computed per
  * tick row by `ops.AnalyticsQueries` (q45, q52), not over the array here.
  *
  * Everything here is pure column expressions / higher-order array functions
  * over the `prices: array<double>` series — no explode of 100 TB of ticks
  * unless an operator genuinely needs per-tick rows.
  */
object GameAnalytics {

  // Sidebet economics (explorer_data.py:21-24, training_data/README.md):
  val SidebetWindowTicks = 40
  val SidebetCooldownTicks = 5
  val SidebetPayout = 5.0
  val OptimalZoneStartTick = 200
  val UnplayableBelowTicks = 40

  /** games_with_prices (§1.3): per-game scalar features derived from the
    * parsed complete_game document. peak/final/duration via array higher-order
    * fns; peak_tick = first index attaining the max (array_position on the
    * max value — exact double equality is safe because it's the same element).
    */
  def gamesWithPrices(games: DataFrame): DataFrame = {
    val prices = col("game.prices")
    games.select(
      col("game.id").as("game_id"),
      col("game.timestamp").as("timestamp"),
      size(prices).as("duration_ticks"),
      prices.as("prices"),
      col("game.peakMultiplier").as("peak_multiplier"),
      (array_position(prices, array_max(prices)) - 1).cast("int").as("peak_tick"),
      (size(prices) - array_position(prices, array_max(prices))).cast("int")
        .as("ticks_after_peak"),
      element_at(prices, -1).as("final_price"),
      (size(prices) < UnplayableBelowTicks).as("is_unplayable"),
      col("game.gameVersion").as("game_version"),
      col("game.rugged").as("rugged"),
      col("game.globalSidebets").as("sidebets"))
  }

  /** games_deduplicated (A6/A7 + §1.3): the reference's raw feed re-emits each
    * game ~10× (rolling 10-game history window) plus a dual rug emission;
    * dedup keeps the best row per game_id by an explicit total order
    * (price_len DESC, ts DESC — `build_scalping_dataset.py:50-74`), NOT
    * keep-first (file-order dependent, non-deterministic under parallel scan;
    * documented deviation per SURVEY §7.4-2).
    */
  def dedupGames(gamesWithPrices: DataFrame): DataFrame = {
    val w = Window.partitionBy("game_id")
      .orderBy(desc("duration_ticks"), desc("timestamp"))
    gamesWithPrices
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Rug tick (D5): index of the largest single-tick drop in `prices`
    * (`analyze_rug_mechanism.py:36-44`) — zip_with consecutive deltas, then
    * argmax via a (drop, -idx) struct max: earliest tick wins ties.
    */
  def withRugTick(df: DataFrame, pricesCol: String = "prices"): DataFrame = {
    val p = col(pricesCol)
    val drops = zip_with(slice(p, lit(1), size(p) - 1), slice(p, lit(2), size(p) - 1),
      (prev, cur) => prev - cur)
    val best = aggregate(
      zip_with(drops, sequence(lit(1), size(p) - 1),
        (d, i) => struct(d.as("drop"), (-i).as("neg_idx"))),
      struct(lit(Double.MinValue).as("drop"), lit(0).as("neg_idx")),
      (acc, x) => when(x("drop") > acc("drop"), x).otherwise(acc))
    df.withColumn("rug_tick", when(size(p) >= 2, (-best("neg_idx")).cast("int")))
      .withColumn("rug_drop",
        when(size(p) >= 2, best("drop")))
  }

  /** sidebets_deduplicated (J4 + D4 + §1.3): unnest `globalSidebets[]` to one
    * row per bet carrying parent-game context (the nested-array join), then
    * label: win iff start_tick <= rug_tick <= start_tick + 39; 5:1 payout;
    * near-miss = lost by <= 5 ticks; optimal zone = start_tick >= 200
    * (explorer_data.py:21-24,105-135).
    */
  def sidebetsLabeled(dedupedGames: DataFrame): DataFrame = {
    val withRug = withRugTick(dedupedGames)
    withRug
      .select(col("game_id"), col("duration_ticks").as("game_duration"),
        col("timestamp"), col("rug_tick"),
        explode(col("sidebets")).as("sb"))
      .select(
        col("game_id"), col("game_duration"), col("timestamp"), col("rug_tick"),
        col("sb.playerId").as("player_id"),
        col("sb.username").as("username"),
        col("sb.betAmount").as("bet_amount"),
        col("sb.xPayout").as("x_payout"),
        col("sb.startedAtTick").as("start_tick"),
        (col("sb.startedAtTick") + SidebetWindowTicks).as("end_tick"),
        col("sb.type").as("type"))
      .withColumn("bet_won",
        col("rug_tick").isNotNull &&
          col("rug_tick") >= col("start_tick") &&
          col("rug_tick") <= col("start_tick") + (SidebetWindowTicks - 1))
      .withColumn("ticks_to_rug", col("rug_tick") - col("start_tick"))
      .withColumn("was_near_miss",
        !col("bet_won") && col("ticks_to_rug").isNotNull &&
          col("ticks_to_rug") > (SidebetWindowTicks - 1) &&
          col("ticks_to_rug") <= (SidebetWindowTicks - 1) + SidebetCooldownTicks)
      .withColumn("bet_in_optimal_zone", col("start_tick") >= OptimalZoneStartTick)
      .withColumn("payout",
        when(col("bet_won"), col("bet_amount") * SidebetPayout)
          .otherwise(-col("bet_amount")))
  }

  /** Win-rate by entry-tick bucket (A13, training_data/README.md table). */
  def winRateByEntryBucket(sidebets: DataFrame, bucketWidth: Int = 50): DataFrame =
    sidebets
      .groupBy((floor(col("start_tick") / bucketWidth) * bucketWidth).cast("int")
        .as("entry_bucket"))
      .agg(count(lit(1)).as("n_bets"),
        avg(col("bet_won").cast("double")).as("win_rate"))
      .orderBy("entry_bucket")

  /** Pre-rug window association (J5, `analyze_pre_rug_events.py:68-98`):
    * bucket events into [-5s, +2s] around each rug timestamp and count per
    * (bucket, event_name) — the range join + floor-bucket + count-map shape.
    */
  def preRugEventBuckets(envelopes: DataFrame, rugs: DataFrame): DataFrame = {
    val ev = envelopes.select(col("event_name"),
      to_timestamp(col("ts")).as("ev_ts"))
    val rg = rugs.select(col("game_id"), to_timestamp(col("rug_ts")).as("rug_ts"))
    ev.join(broadcast(rg),
        col("ev_ts") >= col("rug_ts") - expr("INTERVAL 5 SECONDS") &&
          col("ev_ts") <= col("rug_ts") + expr("INTERVAL 2 SECONDS"))
      .withColumn("bucket_s",
        floor((unix_micros(col("ev_ts")) - unix_micros(col("rug_ts"))) / 1e6).cast("int"))
      .groupBy("bucket_s", "event_name")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket_s", "event_name")
  }
}
