package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The reference's semantics pinned on the queries that compute them:
  * q45 volatility metrics and q52 vol-of-vol (`volatility_study.py:53-137`),
  * q50 observation features (`sidebet_v1_env.py:33-135`). The oracle checks
  * Spark against DuckDB on the same SQL; these cases check both against
  * the reference's numbers (pandas/numpy) on tiny hand-built series.
  */
class AnalyticsQueriesSpec extends SparkSpec {

  import spark.implicits._

  /** Writes one `events.parquet` with a series per user: user_id = game,
    * event_id = tick order (unique across users), value = price, one
    * second apart. Returns the table directory.
    */
  private def events(series: (Long, Seq[Double])*): String = {
    val dir = graft.store.LocalFs.scratchDir("graft-analytics").toString
    val rows = series.flatMap { case (user, prices) =>
      prices.zipWithIndex.map { case (p, i) => (user, i, p) }
    }.zipWithIndex.map { case ((user, i, p), id) =>
      (id.toLong, i.toLong, user, "tick", p)
    }
    rows.toDF("event_id", "sec", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("sec")))
      .drop("sec")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def byUser(rows: Array[Row]): Map[Long, Row] =
    rows.map(r => r.getAs[Long]("user_id") -> r).toMap

  // 30 prices => 29 returns, past the study's 20-return gate
  private val wave = (0 until 30).map(i => 1.0 + 0.1 * math.sin(i) + 0.01 * i)
  private val spiky = Seq(1.0, 1.1, 1.5, 1.2, 0.9)
  // ramp to a peak at row 5, crash at row 6, recover
  private val crash = Seq(1.0, 1.02, 1.05, 1.3, 1.6, 2.0, 0.8, 0.82, 0.85, 0.9)

  private lazy val q52Rows = byUser(AnalyticsQueries.q52VolOfVol(spark, events(
    1L -> wave, 2L -> wave.take(20), 3L -> wave.take(21),
    // wave with a zero and a negative price inside: cleaned away (P8)
    4L -> (wave.take(12) ++ Seq(0.0) ++ wave.slice(12, 25) ++ Seq(-1.0) ++
      wave.drop(25)))).collect())

  test("q52 vol-of-vol is pandas' np.std(rolling(10).std()), to 4 dp") {
    // np.std(pd.Series(r).rolling(10).std().dropna()) = 0.003910810264258176;
    // the other sample/population pairings round to 0.0040, 0.0037, 0.0038
    assert(q52Rows(1L).getAs[Long]("n_returns") === 29L)
    assert(q52Rows(1L).getAs[Double]("vol_of_vol") === 0.0039)
  }

  test("q52 vol-of-vol is 0.0 below 20 returns (study gate)") {
    assert(q52Rows(2L).getAs[Long]("n_returns") === 19L)
    assert(q52Rows(2L).getAs[Double]("vol_of_vol") === 0.0)
    // 20 returns: pandas gives 0.003080129829171137
    assert(q52Rows(3L).getAs[Long]("n_returns") === 20L)
    assert(q52Rows(3L).getAs[Double]("vol_of_vol") === 0.0031)
  }

  test("q45 volatility: population std, every |return| > 10% a spike") {
    val m = AnalyticsQueries.q45Volatility(spark, events(1L -> spiky)).head()
    assert(m.getAs[Long]("n_ticks") === 5L)
    // np.std (ddof=0); the sample std would be 0.2302
    assert(m.getAs[Double]("price_std") === 0.2059)
    assert(m.getAs[Double]("return_std") === 0.2473)
    assert(m.getAs[Double]("log_return_std") === 0.2424)
    assert(m.getAs[Double]("price_range") === 0.6)
    assert(m.getAs[Double]("high_low_ratio") === 1.666667)
    // returns +10.0..009% (1.1/1.0-1 > 0.1 in floating point), +36.4%,
    // -20%, -25%
    assert(m.getAs[Long]("spike_count") === 4L)
  }

  test("q45/q52 clean non-positive prices first, as the study does (P8)") {
    val q45 = byUser(AnalyticsQueries.q45Volatility(spark, events(
      1L -> spiky, 2L -> Seq(1.0, 1.1, 0.0, 1.5, 1.2, -0.5, 0.9))).collect())
    val cols = q45(1L).schema.fieldNames.filter(_ != "user_id")
    cols.foreach(c =>
      assert(q45(2L).getAs[Any](c) === q45(1L).getAs[Any](c), s"q45 $c"))
    assert(q52Rows(4L).getAs[Long]("n_returns") === 29L)
    assert(q52Rows(4L).getAs[Double]("vol_of_vol") === 0.0039)
  }

  test("q46 keeps a zero price as a flat step, not cleaned (P8 is the study's)") {
    val rows = AnalyticsQueries.q46Equity(spark, events(
      1L -> Seq(1.0, 1.2, 0.0, 1.5, 1.8))).collect()
    // every row stays; the zero row and the row after it (prev 0) compound
    // nothing, so the 1.2 -> 1.5 move is lost, where the cleaned series
    // would span it (ln 1.125 = 0.117783 more)
    assert(rows.map(_.getAs[Double]("log_bankroll")).toSeq ===
      Seq(0.0, 0.09531, 0.09531, 0.09531, 0.19062))
  }

  test("q50 keeps a zero price as an observation, drawdown NULL while the peak is 0") {
    val rows = AnalyticsQueries.q50ObsFeatures(spark, events(
      1L -> Seq(0.0, 1.0, 0.0, 0.5))).collect()
    assert(rows.map(_.getAs[Double]("running_peak")).toSeq === Seq(0.0, 1.0, 1.0, 1.0))
    assert(rows.map(r => Option(r.getAs[java.lang.Double]("drawdown_from_peak"))
      .map(_.doubleValue)).toSeq === Seq(None, Some(0.0), Some(-1.0), Some(-0.5)))
    assert(rows.map(_.getAs[Long]("rows_since_peak")).toSeq === Seq(0L, 0L, 1L, 2L))
  }

  test("q50 observation features follow the running peak through a crash") {
    val rows = AnalyticsQueries.q50ObsFeatures(spark, events(
      1L -> crash,
      // the peak 2.0 is touched again at row 3: not a new high
      2L -> Seq(1.0, 2.0, 1.5, 2.0, 1.8))).collect()
    val g1 = rows.filter(_.getAs[Long]("user_id") == 1L)
      .sortBy(_.getAs[Long]("event_id"))
    assert(g1(5).getAs[Long]("rows_since_peak") === 0L)
    assert(g1(9).getAs[Long]("rows_since_peak") === 4L)
    assert(g1(6).getAs[Double]("drawdown_from_peak") === -0.6)
    val g2 = rows.filter(_.getAs[Long]("user_id") == 2L)
      .sortBy(_.getAs[Long]("event_id"))
    assert(g2.map(_.getAs[Long]("rows_since_peak")).toSeq === Seq(0L, 0L, 1L, 2L, 3L))
  }
}
