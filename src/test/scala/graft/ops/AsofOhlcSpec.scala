package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Edge semantics of the as-of join (q67) and OHLC bars (q68) that the
  * oracle's corpus can't isolate: tie timestamps, missing matches, and
  * open/close tie-breaks.
  */
class AsofOhlcSpec extends SparkSpec {

  import spark.implicits._

  private def events(dir: String,
      rows: (Long, String, Long, String, Double)*): Unit =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts")))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("q67 as-of: latest prior quote wins; equal ts matches; no quote -> NULL") {
    val dir = graft.store.LocalFs.scratchDir("graft-asof").toString
    events(dir,
      // user 1: quotes at 10:00 and 10:05; trades at 10:03 and 10:05
      (1L, "2024-01-01 10:00:00", 1L, "view", 5.0),
      (2L, "2024-01-01 10:05:00", 1L, "view", 7.0),
      (3L, "2024-01-01 10:03:00", 1L, "purchase", 100.0),
      (4L, "2024-01-01 10:05:00", 1L, "purchase", 200.0), // ties quote 2
      // user 2: trade BEFORE any quote
      (5L, "2024-01-01 09:00:00", 2L, "purchase", 300.0),
      (6L, "2024-01-01 09:30:00", 2L, "view", 9.0))
    val got = EventQueries.q67AsofJoin(spark, dir).collect()
      .map(r => r.getAs[Long]("trade_id") ->
        Option(r.getAs[java.lang.Long]("quote_id")).map(_.toLong)).toMap
    assert(got(3L) === Some(1L)) // 10:03 sees the 10:00 quote, not 10:05
    assert(got(4L) === Some(2L)) // equal ts: <= semantics include the quote
    assert(got(5L) === None)     // left join: no prior quote -> NULL row kept
  }

  test("q70 funnel: order matters — a click before any view does not advance") {
    val dir = graft.store.LocalFs.scratchDir("graft-funnel").toString
    events(dir,
      // user 1 completes in order: view < click < purchase -> stage 3
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 10:01:00", 1L, "click", 0.0),
      (3L, "2024-01-01 10:02:00", 1L, "purchase", 0.0),
      // user 2: click BEFORE its only view -> stuck at stage 1
      (4L, "2024-01-01 10:00:00", 2L, "click", 0.0),
      (5L, "2024-01-01 10:01:00", 2L, "view", 0.0),
      // user 3: purchase before click (click after view, purchase first) -> 2
      (6L, "2024-01-01 10:00:00", 3L, "view", 0.0),
      (7L, "2024-01-01 10:00:30", 3L, "purchase", 0.0),
      (8L, "2024-01-01 10:01:00", 3L, "click", 0.0),
      // user 4: never viewed -> stage 0
      (9L, "2024-01-01 10:00:00", 4L, "error", 0.0))
    val got = EventQueries.q70Funnel(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("stage")).toMap
    assert(got === Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 0))
  }

  test("q71 retention: cohort by signup week, offsets count distinct users") {
    val dir = graft.store.LocalFs.scratchDir("graft-ret").toString
    events(dir,
      // user 1 signs up Mon 2024-01-01 week, active that week and +2 weeks
      (1L, "2024-01-02 10:00:00", 1L, "signup", 0.0),
      (2L, "2024-01-03 10:00:00", 1L, "click", 0.0),
      (3L, "2024-01-16 10:00:00", 1L, "view", 0.0),
      // user 2 same cohort week, only active in week 0
      (4L, "2024-01-05 10:00:00", 2L, "signup", 0.0),
      // user 3 later cohort
      (5L, "2024-01-10 10:00:00", 3L, "signup", 0.0))
    val got = EventQueries.q71Retention(spark, dir).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("cohort_week").toString.take(10),
        r.getAs[Long]("week_offset")) -> r.getAs[Long]("n_users")).toMap
    // week of 2024-01-01 is the Monday itself; 2024-01-10 -> week of 01-08
    assert(got(("2024-01-01", 0L)) === 2L) // users 1+2 active in cohort week
    assert(got(("2024-01-01", 2L)) === 1L) // user 1 returns two weeks later
    assert(got(("2024-01-08", 0L)) === 1L)
    assert(!got.keySet.exists(_._2 < 0L))  // no pre-signup activity planted
  }

  test("q68 ohlc: open/close by (ts, event_id) order; high/low over the bar") {
    val dir = graft.store.LocalFs.scratchDir("graft-ohlc").toString
    events(dir,
      (10L, "2024-01-01 10:00:01", 1L, "click", 3.0),
      (11L, "2024-01-01 10:59:59", 2L, "click", 8.0),
      (12L, "2024-01-01 10:30:00", 3L, "click", 1.0),
      (13L, "2024-01-01 10:30:00", 4L, "click", 6.0), // ts tie: event_id breaks
      (14L, "2024-01-01 11:00:00", 1L, "click", 4.0)) // next bar
    val bars = EventQueries.q68OhlcBars(spark, dir).collect()
      .map(r => r.getAs[java.sql.Timestamp]("bucket").toString -> r).toMap
    val b10 = bars("2024-01-01 10:00:00.0")
    assert(b10.getAs[Double]("open") === 3.0)
    assert(b10.getAs[Double]("close") === 8.0)
    assert(b10.getAs[Double]("high") === 8.0)
    assert(b10.getAs[Double]("low") === 1.0)
    assert(b10.getAs[Long]("n_events") === 4L)
    assert(bars("2024-01-01 11:00:00.0").getAs[Double]("open") === 4.0)
  }
}
