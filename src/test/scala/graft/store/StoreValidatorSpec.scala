package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StoreValidatorSpec extends SparkSpec {

  import spark.implicits._

  test("clean store validates ok; corruption and dup seqs are flagged") {
    val dir = graft.store.LocalFs.scratchDir("graft-val").toString
    val good = Seq(
      ("2024-01-01T00:00:00", "game_tick", "s1", 0L, """{"t":1}"""),
      ("2024-01-01T00:00:01", "game_tick", "s1", 1L, """{"t":2}"""),
      ("2024-01-01T00:00:02", "ws_event", "s1", 2L, """{"e":"x"}"""))
      .toDF("ts", "doc_type", "session_id", "seq", "raw_json")
    EventStore.write(good, dir)
    val clean = StoreValidator.validate(spark, dir).collect()
      .map(r => r.getAs[String]("doc_type") -> r.getAs[Boolean]("ok")).toMap
    assert(clean === Map("game_tick" -> true, "ws_event" -> true))

    // corrupt partition: bad JSON + duplicated seq
    val bad = Seq(
      ("2024-01-02T00:00:00", "game_tick", "s2", 5L, "not json"),
      ("2024-01-02T00:00:01", "game_tick", "s2", 5L, """{"t":9}"""))
      .toDF("ts", "doc_type", "session_id", "seq", "raw_json")
    EventStore.write(bad, dir)
    val after = StoreValidator.validate(spark, dir).collect()
      .map(r => r.getAs[String]("doc_type") -> r).toMap
    assert(!after("game_tick").getAs[Boolean]("ok"))
    assert(after("game_tick").getAs[Long]("n_bad_json") === 1L)
    assert(after("game_tick").getAs[Long]("n_sessions_dup_seq") === 1L)
    assert(after("ws_event").getAs[Boolean]("ok")) // untouched partition
  }

  test("storage stats aggregate file metadata per doc_type") {
    val dir = graft.store.LocalFs.scratchDir("graft-sstats").toString
    val env = Seq(
      ("2024-01-01T00:00:00", "game_tick", "s1", 0L, "{}"),
      ("2024-01-01T00:00:01", "game_tick", "s1", 1L, "{}"),
      ("2024-01-01T00:00:02", "ws_event", "s1", 2L, "{}"))
      .toDF("ts", "doc_type", "session_id", "seq", "raw_json")
    EventStore.write(env, dir)
    val stats = EventStore.storageStats(spark, dir).collect()
      .map(r => r.getAs[String]("doc_type") -> r).toMap
    assert(stats("game_tick").getAs[Long]("n_events") === 2L)
    assert(stats("ws_event").getAs[Long]("n_events") === 1L)
    assert(stats.values.forall(_.getAs[Long]("n_files") >= 1L))
    assert(stats.values.forall(_.getAs[Double]("storage_mb") > 0.0))
  }

  test("paged game listing enforces the order-by whitelist") {
    val env = Seq(
      ("2024-01-01T00:00:00", "game_tick", "s1", 0L, "g2", "{}"),
      ("2024-01-01T00:00:01", "game_tick", "s1", 1L, "g1", "{}"),
      ("2024-01-01T00:00:02", "game_tick", "s1", 2L, "g3", "{}"))
      .toDF("ts", "doc_type", "session_id", "seq", "game_id", "raw_json")
    val page = EventQueriesApi.listGamesPaged(env, "seq", offset = 1, limit = 1)
      .collect()
    assert(page.map(_.getString(0)).toSeq === Seq("g1")) // 2nd by first-seen seq
    intercept[IllegalArgumentException] {
      EventQueriesApi.listGamesPaged(env, "game_id; DROP TABLE", 0, 1)
    }
  }
}
