package graft

import java.sql.Timestamp

import graft.store.{EventQueriesApi, EventStore}
import graft.streaming.{Ingest, RawEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end: the LIVE path (normalize → classify → partitioned sink) and
  * the BATCH path (partition-pruned store scan → episode/window queries)
  * compose — SURVEY §3.2 feeding §3.1/§3.3 on the same files.
  */
class IntegrationSpec extends SparkSpec {

  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tick(sess: String, ms: Long, game: String, t: Int, p: Double) =
    RawEvent(sess, new Timestamp(ms), "game.tick", Some(game), Some(t), Some(p), "{}")

  test("ingested stream round-trips into the batch episode/feature queries") {
    val base = 1700000000000L
    val g1 = Vector(1.0, 1.1, 1.25, 1.2, 0.9)
    val g2 = Vector(2.0, 2.1)
    val input = MemoryStream[RawEvent]
    input.addData(
      RawEvent("s1", new Timestamp(base), "game.presale", Some("g1"),
        None, None, "{}") +:
        (g1.zipWithIndex.map { case (p, i) =>
          tick("s1", base + 1000L * (i + 1), "g1", i, p)
        } ++ g2.zipWithIndex.map { case (p, i) =>
          tick("s1", base + 1000L * (i + 10), "g2", i, p)
        }): _*)
    val out = graft.store.LocalFs.scratchDir("graft-e2e-out").toString
    val ckpt = graft.store.LocalFs.scratchDir("graft-e2e-ckpt").toString
    Ingest.start(input.toDS(), out, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)

    // batch store scan over the streamed files, doc_type pruned
    val env = EventStore.readDocType(spark, out, "game_tick")
      .withColumn("price", col("price").cast("string")) // envelope physical type
    assert(env.count() === 7)

    // episode surface: qualifying games by min ticks (J1/A4)
    val qualifying = EventQueriesApi.qualifyingGameIds(env, minTicks = 3)
      .collect().map(_.getString(0))
    assert(qualifying.toSeq === Seq("g1"))

    // window features over the streamed episode (W1-W5)
    val feats = EventQueriesApi.tickFeatures(env, Some("g1"))
      .orderBy("seq").collect()
    assert(feats.length === 5)
    assert(feats.last.getAs[Double]("running_max") === 1.25)
    assert(math.abs(feats.last.getAs[Double]("drawdown") - (0.9 / 1.25 - 1)) < 1e-12)
    // seq survived normalization monotonic per session
    assert(feats.map(_.getAs[Long]("seq")).sorted.toSeq ===
      feats.map(_.getAs[Long]("seq")).toSeq)
  }

  test("wire bytes to warehouse: socket frames -> parse -> normalize -> sink -> batch scan") {
    import graft.streaming.SocketFrames
    def frame(gameId: String, active: Boolean, rugged: Boolean, t: Int, p: Double): String =
      s"""42["gameStateUpdate",{"gameId":"$gameId","active":$active,""" +
        s""""rugged":$rugged,"tickCount":$t,"price":$p,"cooldownTimer":0,""" +
        s""""allowPreRoundBuys":false,"tradeCount":0}]"""
    val base = 1700000100000L
    val input = MemoryStream[(String, Long)] // (raw frame, arrival ms)
    input.addData(
      ("2", base),                                     // ping: dropped by the parser
      (frame("g9", active = true, rugged = false, 0, 1.0), base + 1000),
      (frame("g9", active = true, rugged = false, 1, 1.3), base + 2000),
      (frame("g9", active = true, rugged = false, 2, 1.1), base + 3000),
      (frame("g9", active = true, rugged = true, 3, 0.0), base + 4000),  // rug
      ("""42["playerUpdate",{"id":"p1"}]""", base + 4500)) // other event: dropped
    val raw = SocketFrames.rawEvents(
      input.toDS().toDF("value", "arrival_ms"),
      lit("conn-e2e"), (col("arrival_ms") / 1000).cast("timestamp"))
    val out = graft.store.LocalFs.scratchDir("graft-wire-out").toString
    val ckpt = graft.store.LocalFs.scratchDir("graft-wire-ckpt").toString
    Ingest.start(raw, out, ckpt, Trigger.AvailableNow()).awaitTermination(60000)

    // tickCount 0 is phase evidence "game.active" (game start), so ticks 1
    // and 2 land under doc_type=game_tick; the rug rides the ws_event
    // family — all partition-pruned readable
    val ticks = EventStore.readDocType(spark, out, "game_tick")
    assert(ticks.count() === 2)
    assert(ticks.select(max(col("price").cast("double"))).head().getDouble(0) === 1.3)
    val all = EventStore.read(spark, out)
    assert(all.count() === 4) // start + 2 ticks + rug; ping/player dropped
    // normalizer saw the frames in arrival order: seq 0..3 for the session
    assert(all.select("seq").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 1L, 2L, 3L))
  }
}
