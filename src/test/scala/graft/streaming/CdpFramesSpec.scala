package graft.streaming

import graft.SparkSpec
import graft.store.EventStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** CDP-interception replay: recorded `Network.webSocket*` envelopes flow
  * through the SAME SocketFrames → Normalizer → Ingest path as the live
  * client's spool (reference `src/sources/cdp_websocket_interceptor.py`).
  */
class CdpFramesSpec extends SparkSpec {

  import spark.implicits._

  private val Host = "backend.example.test"

  private def sig(gameId: String, active: Boolean, rugged: Boolean,
      tick: Int, price: Double, cooldown: Long = 0L,
      preRound: Boolean = false): String =
    s"""{"gameId":"$gameId","active":$active,"rugged":$rugged,""" +
      s""""tickCount":$tick,"price":$price,"cooldownTimer":$cooldown,""" +
      s""""allowPreRoundBuys":$preRound,"tradeCount":0}"""

  private def created(id: String, url: String): String =
    s"""{"method":"Network.webSocketCreated","params":{"requestId":"$id","url":"$url"}}"""

  private def frame(id: String, ts: Double, payload: String,
      direction: String = "Received"): String = {
    val esc = payload.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"method":"Network.webSocketFrame$direction","params":{"requestId":"$id",""" +
      s""""timestamp":$ts,"response":{"opcode":1,"payloadData":"$esc"}}}"""
  }

  private def closed(id: String): String =
    s"""{"method":"Network.webSocketClosed","params":{"requestId":"$id"}}"""

  /** A recorded session: one matching socket (91.1), one same-host plain-wss
    * decoy and one other-host socket.io decoy, monotonic CDP timestamps.
    */
  private val recording: Seq[String] = Seq(
    created("91.1", s"wss://$Host/socket.io/?EIO=4&transport=websocket"),
    created("91.2", s"wss://$Host/metrics"), // no socket.io path: decoy
    created("91.3", "wss://other.example.test/socket.io/?EIO=4"), // wrong host
    frame("91.1", 1000.0, "2"), // ping: parsed, dropped by rawEvents
    frame("91.1", 1000.5,
      s"""42["gameStateUpdate",${sig("", active = false, rugged = false, 0, 1.0, cooldown = 5000, preRound = true)}]"""),
    frame("91.1", 1001.0,
      s"""42["gameStateUpdate",${sig("g1", active = true, rugged = false, 1, 1.02)}]"""),
    frame("91.1", 1001.25, """42["buyOrder",{"qty":1}]""", direction = "Sent"),
    frame("91.3", 1001.3,
      s"""42["gameStateUpdate",${sig("gX", active = true, rugged = false, 9, 9.9)}]"""),
    frame("91.1", 1001.5,
      s"""42["gameStateUpdate",${sig("g1", active = true, rugged = true, 2, 0.0)}]"""),
    "not json at all",
    closed("91.1"))

  private val WallBaseMs = 1700000000000L

  private def tmp(prefix: String): String =
    graft.store.LocalFs.scratchDir(prefix).toString

  private def writeRecording(dir: String): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "cdp-session.jsonl"),
      recording.mkString("\n").getBytes("UTF-8"))

  test("scanRecording finds only the target socket and the monotonic base") {
    val dir = tmp("cdp-rec")
    writeRecording(dir)
    val rec = CdpFrames.scanRecording(spark, dir, Host)
    assert(rec.socketIds === Seq("91.1"))
    assert(rec.cdpBase === 1000.0)
  }

  test("frames: decoy sockets and garbage dropped, monotonic ts → wall clock") {
    val dir = tmp("cdp-rec")
    writeRecording(dir)
    val rec = CdpFrames.scanRecording(spark, dir, Host)
    val fs = CdpFrames.frames(spark.read.text(dir), rec, WallBaseMs)
      .orderBy("epoch_sec").collect()
    assert(fs.length === 5) // 4 received + 1 sent, no 91.3, no garbage line
    assert(fs.forall(_.getAs[String]("request_id") == "91.1"))
    assert(fs.map(_.getAs[String]("direction")).count(_ == "sent") === 1)
    // first frame (cdp 1000.0) maps exactly to the wall base; offsets carry
    val t0 = fs.head.getAs[Double]("epoch_sec")
    assert(t0 === WallBaseMs / 1000.0)
    assert(fs.last.getAs[Double]("epoch_sec") === WallBaseMs / 1000.0 + 1.5)
  }

  test("epoch-looking CDP timestamps pass through unmapped") {
    val lines = Seq(
      created("7.1", s"wss://$Host/socket.io/?EIO=4"),
      frame("7.1", 1.7123e9, "2")).toDF("value")
    val rec = CdpFrames.Recording(Seq("7.1"), 0.0)
    val f = CdpFrames.frames(lines, rec, WallBaseMs).collect().head
    assert(f.getAs[Double]("epoch_sec") === 1.7123e9)
  }

  test("recorded CDP session replays end-to-end to the partitioned sink") {
    val dir = tmp("cdp-rec")
    writeRecording(dir)
    val rec = CdpFrames.scanRecording(spark, dir, Host)
    val out = tmp("cdp-out")
    val ckpt = tmp("cdp-ckpt")
    // the recording replays as a file STREAM through the live Ingest path
    val raw = CdpFrames.rawEvents(spark.readStream.text(dir), rec, WallBaseMs)
    Ingest.start(raw, out, ckpt, Trigger.AvailableNow()).awaitTermination(60000)
    val back = EventStore.read(spark, out).orderBy("seq").collect()
    // 3 received gameStateUpdate frames; ping, sent frame, decoy socket out
    assert(back.length === 3)
    assert(back.map(_.getAs[String]("event_name")).toSeq ===
      Seq("game.presale", "game.tick", "game.rug"))
    assert(back.map(_.getAs[String]("phase")).toSeq ===
      Seq("PRESALE", "ACTIVE", "RUGGED"))
    assert(back.forall(_.getAs[String]("session_id") == "91.1"))
    assert(back.forall(_.getAs[Boolean]("phase_valid")))
    // event time is the MAPPED wall clock, not the monotonic CDP value
    assert(back.head.getAs[java.sql.Timestamp]("ts").getTime ===
      WallBaseMs + 500)
    // and the sink laid out doc_type=/date= partitions as for live capture
    val parts = new java.io.File(out).listFiles().map(_.getName)
    assert(parts.contains("doc_type=game_tick"))
    assert(parts.contains("doc_type=ws_event"))
  }
}
