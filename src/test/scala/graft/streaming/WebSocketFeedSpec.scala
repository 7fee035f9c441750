package graft.streaming

import java.io.{InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import graft.SparkSpec
import WebSocketFeed._

import scala.jdk.CollectionConverters._

/** S10 end-to-end: the protocol/reconnect/rate-limit logic against a fake
  * transport (deterministic clock and sleeper), and the real
  * JdkWebSocketTransport against an in-process RFC 6455 server (handshake,
  * frame encode/decode, masked client frames) — no external network.
  */
class WebSocketFeedSpec extends SparkSpec {

  private def tmpSpool(): Path = graft.store.LocalFs.scratchDir("ws-spool")

  private def spoolLines(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .flatMap(p => Files.readAllLines(p).asScala)

  // --- fake transport ------------------------------------------------------

  /** Scripted transport: each connect() pops the next session script —
    * a function receiving the listener (push frames, then close).
    */
  private class FakeTransport(sessions: (FrameListener => Unit)*)
      extends FrameTransport {
    val sent = new ConcurrentLinkedQueue[String]
    private var i = 0
    override def connect(uri: URI, l: FrameListener): AutoCloseable = {
      val script = synchronized {
        // past the script, sessions die instantly — the feed burns its
        // failure budget and stops (healthy closes retry forever by design)
        val s = if (i < sessions.length) sessions(i)
          else (l: FrameListener) => l.onClose(1006, "exhausted")
        i += 1
        s
      }
      l.onOpen(sent.add(_))
      script(l)
      () => ()
    }
  }

  test("engine protocol: open -> 40, ping -> 3, events spooled in order") {
    val spool = tmpSpool()
    val transport = new FakeTransport(l => {
      l.onText("0{\"sid\":\"x\",\"pingInterval\":25000}")
      l.onText("2")
      l.onText("""42["gameStateUpdate",{"gameId":"g1","active":true}]""")
      l.onText("""42["gameStateUpdate",{"gameId":"g1","tickCount":2}]""")
      l.onClose(1000, "bye")
    })
    val feed = new WebSocketFeed(new URI("ws://fake"), spool, transport,
      maxAttempts = 1, sleeper = _ => ())
    feed.start()
    eventually(!feed.isRunning)
    assert(transport.sent.asScala.toSeq === Seq("40", "3"))
    val lines = spoolLines(spool)
    assert(lines.size === 2)
    assert(lines.head.contains("\"active\":true"))
    val st = feed.stats
    assert(st.received === 4 && st.spooled === 2 && st.rateLimited === 0)
  }

  test("rate limit: bucket drops floods, rug frames always bypass") {
    val spool = tmpSpool()
    // frozen clock: the bucket never refills — only `burst` tokens exist
    val frames = (1 to 30).map(i => s"""42["t",{"tickCount":$i}]""") :+
      """42["gameStateUpdate",{"gameId":"g","rugged":true}]"""
    val transport = new FakeTransport(l => {
      frames.foreach(l.onText)
      l.onClose(1000, "")
    })
    val feed = new WebSocketFeed(new URI("ws://fake"), spool, transport,
      rateLimit = 20.0, burst = 10.0, maxAttempts = 1,
      sleeper = _ => (), clock = () => 0L)
    feed.start()
    eventually(!feed.isRunning)
    val st = feed.stats
    assert(st.spooled === 11) // 10 tokens + the critical bypass
    assert(st.rateLimited === 20)
    assert(st.criticalBypass === 1)
    assert(spoolLines(spool).last.contains("\"rugged\":true"))
  }

  test("reconnect: exponential backoff 1,2,4,8,10,10; gives up at maxAttempts") {
    val spool = tmpSpool()
    val sleeps = new ConcurrentLinkedQueue[Long]
    // every session dies instantly with no frames
    val transport = new FakeTransport(l => l.onClose(1006, "dead"))
    val feed = new WebSocketFeed(new URI("ws://fake"), spool, transport,
      maxAttempts = 7, sleeper = sleeps.add(_))
    feed.start()
    eventually(!feed.isRunning)
    assert(sleeps.asScala.toSeq === Seq(1000L, 2000L, 4000L, 8000L, 10000L, 10000L))
    assert(feed.stats.reconnects === 6)
  }

  test("healthy session close resets the failure budget") {
    val spool = tmpSpool()
    val healthy: FrameListener => Unit = l => {
      l.onText("""42["e",{}]""")
      l.onClose(1000, "")
    }
    val dead: FrameListener => Unit = l => l.onClose(1006, "")
    // healthy, dead, healthy, dead, dead: with maxAttempts=2 the feed must
    // survive past the single dead session in the middle
    val transport = new FakeTransport(healthy, dead, healthy, dead, dead)
    val feed = new WebSocketFeed(new URI("ws://fake"), spool, transport,
      maxAttempts = 2, sleeper = _ => ())
    feed.start()
    eventually(!feed.isRunning)
    assert(feed.stats.spooled === 2) // both healthy sessions' frames
  }

  test("a restarted feed never overwrites an earlier run's spool files") {
    // conn/roll counters restart at 0 in every instance; the per-instance
    // tag must keep the ATOMIC_MOVE from replacing run 1's file (the file
    // stream source tracks seen paths, so replaced content is lost twice)
    val spool = tmpSpool()
    def runOnce(msg: String): Unit = {
      val transport = new FakeTransport(l => {
        l.onText(s"""42["e",{"m":"$msg"}]""")
        l.onClose(1000, "bye")
      })
      val feed = new WebSocketFeed(new URI("ws://fake"), spool, transport,
        maxAttempts = 1, sleeper = _ => ())
      feed.start()
      eventually(!feed.isRunning)
      feed.close()
    }
    runOnce("first"); runOnce("second")
    val lines = spoolLines(spool)
    assert(lines.size === 2, s"expected both runs' frames, got $lines")
    assert(lines.exists(_.contains("first")) && lines.exists(_.contains("second")))
  }

  test("spool rolls atomically and the parsed stream reads it") {
    val spool = tmpSpool()
    val transport = new FakeTransport(l => {
      (1 to 5).foreach(i =>
        l.onText(s"""42["gameStateUpdate",{"gameId":"g$i","active":true,"tickCount":$i}]"""))
      l.onClose(1000, "")
    })
    val feed = new WebSocketFeed(new URI("ws://fake"), spool, transport,
      rollEvery = 2, maxAttempts = 1, sleeper = _ => ())
    feed.start()
    eventually(!feed.isRunning)
    // 5 frames, roll at 2: 2+2 published mid-session + 1 on close
    assert(Files.list(spool).count() === 3)
    assert(Files.list(spool).iterator().asScala.forall(
      !_.getFileName.toString.endsWith(".tmp")))
    // batch-read the landing zone through the same grammar the stream uses
    val parsed = SocketFrames.parseFrames(
      spark.read.text(spool.toString))
    val names = parsed.select("event_name").collect().map(_.getString(0))
    assert(names.length === 5 && names.forall(_ === "gameStateUpdate"))
  }

  // --- real transport against an in-process RFC 6455 server ---------------

  /** Minimal WebSocket server: HTTP upgrade handshake + text frames.
    * Server→client frames are unmasked; client→server frames arrive
    * masked (RFC 6455 §5.3) and are unmasked here.
    */
  private class TinyWsServer(script: (String => Unit, () => String) => Unit) {
    private val server = new ServerSocket()
    server.bind(new InetSocketAddress("127.0.0.1", 0))
    val port: Int = server.getLocalPort
    val handshook = new CountDownLatch(1)

    private def sha1B64(s: String): String =
      Base64.getEncoder.encodeToString(
        MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8)))

    private def sendText(out: OutputStream, s: String): Unit = {
      val p = s.getBytes(UTF_8)
      out.write(0x81)
      if (p.length < 126) out.write(p.length)
      else { out.write(126); out.write(p.length >> 8); out.write(p.length & 0xff) }
      out.write(p)
      out.flush()
    }

    private def readText(in: InputStream): String = {
      val b0 = in.read()
      if (b0 < 0) return null
      val b1 = in.read()
      var len = b1 & 0x7f
      if (len == 126) len = (in.read() << 8) | in.read()
      val mask = Array.fill(4)(in.read().toByte)
      val data = in.readNBytes(len)
      (0 until len).foreach(i => data(i) = (data(i) ^ mask(i & 3)).toByte)
      if ((b0 & 0x0f) == 0x8) null // close frame
      else new String(data, UTF_8)
    }

    private val thread = new Thread(() => {
      try {
        while (!server.isClosed) {
          val sock = server.accept()
          val in = sock.getInputStream
          val out = sock.getOutputStream
          // read HTTP request headers
          val headers = new StringBuilder
          var prev = 0
          var done = false
          while (!done) {
            val c = in.read()
            if (c < 0) done = true
            else {
              headers.append(c.toChar)
              if (headers.endsWith("\r\n\r\n")) done = true
              prev = c
            }
          }
          val key = headers.toString.linesIterator
            .find(_.toLowerCase.startsWith("sec-websocket-key:"))
            .map(_.split(":", 2)(1).trim).getOrElse("")
          val accept = sha1B64(key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11")
          out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
            "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
            s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
          out.flush()
          handshook.countDown()
          script(sendText(out, _), () => readText(in))
          sock.close()
        }
      } catch { case _: Exception => () } // closed
    }, "tiny-ws-server")
    thread.setDaemon(true)
    thread.start()

    def close(): Unit = server.close()
  }

  test("real JDK transport: handshake, heartbeat, events land in the spool") {
    val received = new ConcurrentLinkedQueue[String]
    val server = new TinyWsServer((send, recv) => {
      send("0{\"sid\":\"abc\",\"pingInterval\":25000,\"pingTimeout\":20000}")
      received.add(recv()) // expect "40"
      send("2")
      received.add(recv()) // expect "3"
      send("""42["gameStateUpdate",{"gameId":"real-1","active":true,"rugged":false,"tickCount":7,"price":1.25}]""")
      send("""42["gameStateUpdate",{"gameId":"real-1","active":true,"rugged":true,"tickCount":8,"price":0.02}]""")
      // give the client a beat to process before closing the socket
      Thread.sleep(200)
    })
    val spool = tmpSpool()
    val feed = new WebSocketFeed(new URI(s"ws://127.0.0.1:${server.port}/"),
      spool, JdkWebSocketTransport, maxAttempts = 1, sleeper = _ => ())
    try {
      feed.start()
      assert(server.handshook.await(5, TimeUnit.SECONDS), "no handshake")
      eventually(feed.stats.spooled >= 2, timeoutMs = 10000)
      feed.close()
      assert(received.asScala.toSeq === Seq("40", "3"))
      val lines = spoolLines(spool)
      assert(lines.size === 2)
      assert(lines(0).contains("\"gameId\":\"real-1\"") && lines(1).contains("\"rugged\":true"))
      // the grammar parses what the real socket delivered
      val parsed = SocketFrames.parseFrames(spark.read.text(spool.toString))
        .selectExpr("get_json_object(payload_json, '$.tickCount') AS t")
        .collect().map(_.getString(0)).sorted
      assert(parsed === Array("7", "8"))
    } finally {
      feed.close()
      server.close()
    }
  }

  // --- helpers -------------------------------------------------------------
  private def eventually(cond: => Boolean, timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(cond, s"condition not met within ${timeoutMs}ms")
  }
}
