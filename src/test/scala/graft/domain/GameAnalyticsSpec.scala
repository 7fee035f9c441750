package graft.domain

import graft.SparkSpec
import graft.store.EventStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tests over the complete_game fixture of FIXTURES.md §2: duplicated game
  * emissions (rolling-history re-broadcast), sidebets straddling the win
  * boundary, rug-tick detection.
  */
class GameAnalyticsSpec extends SparkSpec {

  import spark.implicits._

  /** complete_game raw_json docs: gameA emitted 3× (rolling-history dups,
    * shorter price arrays on earlier emissions), gameB once.
    * gameA prices rise 1.0→3.0 then rug to 0.02 at tick 6 of 8 (0-based).
    */
  private def completeGameJson(id: String, ts: Long, prices: Seq[Double],
      sidebets: String = "[]"): String =
    s"""{"id":"$id","timestamp":$ts,"gameVersion":"v3","rugged":true,
       |"peakMultiplier":${prices.max},"prices":[${prices.mkString(",")}],
       |"globalSidebets":$sidebets,
       |"provablyFair":{"serverSeedHash":"ab12"}}""".stripMargin.replaceAll("\n", "")

  private val pricesA = Seq(1.0, 1.5, 2.0, 2.5, 3.0, 2.9, 0.02, 0.02, 0.02)
  private val sidebetsA =
    """[{"playerId":"p1","username":"u1","betAmount":0.05,"xPayout":5,"startedAtTick":5,"end":45,"type":"placed"},
      | {"playerId":"p2","username":"u2","betAmount":0.10,"xPayout":5,"startedAtTick":6,"end":46,"type":"placed"},
      | {"playerId":"p3","username":"u3","betAmount":0.20,"xPayout":5,"startedAtTick":7,"end":47,"type":"placed"}]"""
      .stripMargin.replaceAll("\n", "")

  private lazy val games: DataFrame = {
    val rows = Seq(
      // two stale emissions of gameA with truncated prices, then the full one
      completeGameJson("gameA", 1000L, pricesA.take(5), sidebetsA),
      completeGameJson("gameA", 2000L, pricesA.take(7), sidebetsA),
      completeGameJson("gameA", 3000L, pricesA, sidebetsA),
      completeGameJson("gameB", 4000L, Seq(1.0, 1.2, 1.4, 1.6)))
      .toDF("raw_json")
      .withColumn("doc_type", lit("complete_game"))
    EventStore.completeGames(rows)
  }

  private lazy val deduped =
    GameAnalytics.dedupGames(GameAnalytics.gamesWithPrices(games))

  test("gamesWithPrices extracts per-game features from nested JSON") {
    val a = GameAnalytics.gamesWithPrices(games)
      .filter($"game_id" === "gameA" && $"duration_ticks" === 9).head()
    assert(a.getAs[Double]("peak_multiplier") === 3.0)
    assert(a.getAs[Int]("peak_tick") === 4)
    assert(a.getAs[Int]("ticks_after_peak") === 4)
    assert(a.getAs[Double]("final_price") === 0.02)
    assert(a.getAs[Boolean]("is_unplayable")) // < 40 ticks
  }

  test("dedupGames keeps the best row per game (longest prices, latest ts)") {
    assert(deduped.count() === 2)
    val a = deduped.filter($"game_id" === "gameA").head()
    assert(a.getAs[Int]("duration_ticks") === 9)
    assert(a.getAs[Long]("timestamp") === 3000L)
  }

  test("rug tick = index of the largest single-tick drop") {
    val a = GameAnalytics.withRugTick(deduped).filter($"game_id" === "gameA").head()
    assert(a.getAs[Int]("rug_tick") === 6) // 2.9 -> 0.02
    assert(math.abs(a.getAs[Double]("rug_drop") - 2.88) < 1e-9)
  }

  test("sidebet labeling: win iff start <= rug <= start+39, 5:1 payout") {
    val sb = GameAnalytics.sidebetsLabeled(deduped)
      .filter($"game_id" === "gameA")
      .collect().map(r => r.getAs[String]("player_id") ->
        (r.getAs[Boolean]("bet_won"), r.getAs[Double]("payout"))).toMap
    assert(sb("p1") === ((true, 0.25)))   // start 5, rug 6 in [5,44]
    assert(sb("p2") === ((true, 0.50)))   // start 6, rug 6 (boundary)
    assert(sb("p3") === ((false, -0.20))) // start 7 > rug 6 ⇒ loss
  }

  test("ticks_to_rug is signed; near-miss only within cooldown past window") {
    val p3 = GameAnalytics.sidebetsLabeled(deduped)
      .filter($"game_id" === "gameA" && $"player_id" === "p3").head()
    assert(p3.getAs[Int]("ticks_to_rug") === -1)
    assert(!p3.getAs[Boolean]("was_near_miss"))
  }

  test("win-rate by entry bucket aggregates labeled sidebets") {
    val wr = GameAnalytics.winRateByEntryBucket(
      GameAnalytics.sidebetsLabeled(deduped)).head()
    assert(wr.getAs[Int]("entry_bucket") === 0)
    assert(wr.getAs[Long]("n_bets") === 3)
    assert(math.abs(wr.getAs[Double]("win_rate") - 2.0 / 3) < 1e-12)
  }
}
