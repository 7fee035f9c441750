package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's `EventStoreQuery` surface (`src/services/event_store/
  * duckdb.py`) as a Scala API over envelope DataFrames.
  *
  * Every method is declarative — Catalyst does partition pruning, predicate
  * pushdown, and broadcast selection; the N+1 per-game loop of the reference
  * (`duckdb.py:155-184`) becomes one broadcast semi-join and one range sort
  * ([[episodes]]: 5 jobs for any number of games, EventStoreSpec pins it).
  *
  * Each method is planned for the size of its result. A bounded one (one
  * game's rows, ≤ 10 doc_type groups) is ordered after one exchange with
  * `sortWithinPartitions`: a global `orderBy` would add a range-partition
  * sampling job and its exchange, sized for a result that cannot occur.
  * An unbounded one (`episodes`, `playerGameEvents`, `gamesByIds`,
  * `tickFeatures` of every game) keeps the range-partitioned `orderBy`,
  * so no sort collapses to a single task. Nothing narrows to one
  * partition ahead of a scan: `game_id` is not a partition column, so
  * that would scan the whole store in one task. Jobs per lookup on
  * `local[4]` (LookupPlanSpec pins them): `EventStore.read` 1,
  * `gameEpisode` 2, `tickFeatures` of one game 2, `listGamesPaged` 2,
  * `recentEvents` 1, `docTypeStats` 3.
  */
object EventQueriesApi {

  /** Episode fetch (`duckdb.py:129-153`): all events of one game, seq order.
    * Bounded by one game: the filtered rows meet in one partition and sort
    * there, one exchange and no range sampling.
    */
  def gameEpisode(envelopes: DataFrame, gameId: String): DataFrame =
    envelopes.filter(col("game_id") === gameId)
      .repartition(1).sortWithinPartitions("seq")

  /** Qualifying games (`duckdb.py:186-238`, J1/A4): tick-count CTE + HAVING
    * min_ticks, joined back to events. The tick-count side is tiny ⇒
    * broadcast; events never shuffle.
    */
  def qualifyingGameIds(envelopes: DataFrame, minTicks: Long): DataFrame =
    envelopes
      .filter(col("doc_type") === "game_tick" && col("game_id").isNotNull)
      .groupBy("game_id")
      .agg(count(lit(1)).as("tick_count"))
      .filter(col("tick_count") >= minTicks)

  /** Episodes of all qualifying games in ONE job (not N+1): semi-join +
    * per-game ordering (SURVEY §3.3 Spark shape).
    */
  def episodes(envelopes: DataFrame, minTicks: Long): DataFrame = {
    val ids = qualifyingGameIds(envelopes, minTicks).select("game_id")
    envelopes.join(broadcast(ids), Seq("game_id"), "left_semi")
      .orderBy("game_id", "seq")
  }

  /** Player history (`duckdb.py:296-310`, J2): all events of every game the
    * player appeared in — the DISTINCT player_games CTE is exactly a
    * left-semi join.
    */
  def playerGameEvents(envelopes: DataFrame, playerId: String): DataFrame = {
    val playerGames = envelopes
      .filter(col("player_id") === playerId && col("game_id").isNotNull)
      .select("game_id").distinct()
    envelopes.join(broadcast(playerGames), Seq("game_id"), "left_semi")
      .orderBy("game_id", "seq")
  }

  /** Batch fetch by id list (`duckdb.py:240-273`, J3/P5). */
  def gamesByIds(envelopes: DataFrame, gameIds: Seq[String]): DataFrame =
    envelopes.filter(col("game_id").isin(gameIds: _*))
      .orderBy("game_id", "seq")

  /** Discovery (`duckdb.py:226-237,340-384`, A5/O4); games are listed by
    * [[listGamesPaged]].
    */
  def listPlayers(envelopes: DataFrame, limit: Int): DataFrame =
    envelopes.filter(col("player_id").isNotNull)
      .select("player_id").distinct().orderBy("player_id").limit(limit)

  /** Paginated listing with a WHITELISTED order-by (O3 + SURVEY §4
    * injection-safety: `data_service.py:21-30` validates order_by against a
    * frozenset before splicing). Typed Columns make injection structural
    * here, but the whitelist is still enforced so an API caller cannot
    * order by an unindexed/expensive column.
    */
  val AllowedGameOrderings: Set[String] = Set("game_id", "ts", "seq")

  def listGamesPaged(envelopes: DataFrame, orderBy: String,
      offset: Int, limit: Int): DataFrame = {
    require(AllowedGameOrderings.contains(orderBy),
      s"order_by '$orderBy' not in whitelist $AllowedGameOrderings")
    envelopes.filter(col("game_id").isNotNull)
      .groupBy("game_id")
      .agg(min("ts").as("ts"), min("seq").as("seq"))
      .orderBy(col(orderBy), col("game_id"))
      .offset(offset).limit(limit)
      .select("game_id", "ts")
  }

  /** Store stats (`query_session.py:43-53,161-179`, A1–A3): per-doc_type
    * counts, time range, distinct sessions. The store has ≤ 10 doc_types,
    * so the final aggregate runs as one task and sorts its groups in place.
    */
  def docTypeStats(envelopes: DataFrame): DataFrame =
    envelopes.groupBy("doc_type").agg(
      count(lit(1)).as("n_events"),
      min("ts").as("min_ts"),
      max("ts").as("max_ts"),
      countDistinct(col("session_id")).as("n_sessions"))
      .coalesce(1).sortWithinPartitions("doc_type")

  /** Recent events (`query_session.py:100-110`, O2). */
  def recentEvents(envelopes: DataFrame, n: Int): DataFrame =
    envelopes.select("ts", "doc_type", "event_name", "game_id", "session_id")
      .orderBy(desc("ts")).limit(n)

  /** Tick features (`duckdb.py:408-458`, W1–W5): the reference's richest
    * query — price delta/pct-change (NULLIF-guarded), rolling 5/10-tick
    * volatility, running max, drawdown — one shared window, per-game
    * partitioned so the sort never collapses to a single reducer.
    * `price` is decimal-as-string on disk and CAST here, exactly like
    * `duckdb.py:435`. The lag and the running max are bound to columns
    * first, so each is one window expression however often the features
    * use it. For one game the window's `game_id` exchange already puts
    * every row in one partition in (game_id, seq) order, so there is no
    * final sort; the features of every game keep their range sort.
    */
  def tickFeatures(envelopes: DataFrame, gameId: Option[String] = None): DataFrame = {
    val ticks0 = envelopes.filter(col("doc_type") === "game_tick")
    val ticks = gameId.fold(ticks0)(g => ticks0.filter(col("game_id") === g))
      .withColumn("price_d", col("price").cast("double"))
    val w = Window.partitionBy("game_id").orderBy("seq")
    val w5 = w.rowsBetween(-4, 0)
    val w10 = w.rowsBetween(-9, 0)
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    def nullifZero(c: Column): Column = when(c === 0, null).otherwise(c)
    val price = col("price_d")
    val prev = col("prev")
    val runMax = col("running_max")
    val out = ticks.select(
      col("game_id"), col("seq"), col("tick"), price,
      lag(price, 1).over(w).as("prev"),
      when(count(lit(1)).over(w5) >= 2, stddev(price).over(w5)).as("volatility_5"),
      when(count(lit(1)).over(w10) >= 2, stddev(price).over(w10)).as("volatility_10"),
      max(price).over(wRun).as("running_max"))
      .select(
        col("game_id"), col("seq"), col("tick"), price.as("price"),
        (price - prev).as("price_delta"),
        ((price - prev) / nullifZero(prev)).as("pct_change"),
        col("volatility_5"), col("volatility_10"), runMax,
        (price / nullifZero(runMax) - 1).as("drawdown"))
    if (gameId.isEmpty) out.orderBy("game_id", "seq")
    else out.sortWithinPartitions("game_id", "seq")
  }
}
