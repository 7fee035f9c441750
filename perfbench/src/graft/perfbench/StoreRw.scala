package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.store.{EventQueriesApi, EventStore}
import graft.streaming.{Ingest, RawEvent}

/** The write path and then the read path over one event store.
  *
  * A seeded generator plays games in each of `sessions` capture sessions
  * (presale, ticks with player actions in between, rug, complete_game) and
  * interleaves the sessions in time. The events go through `Ingest.start`
  * in fixed blocks, each fed only after the previous batch committed, so
  * batch boundaries are the same on every run. After `stopAfter` batches
  * the stream is stopped, the remaining blocks arrive, and the stream is
  * restarted from its checkpoint and drained. Every game's history is then
  * re-emitted 10x through `dedupGameHistory`. Last, one client runs seeded
  * lookups over the store it just wrote; every result is checked against
  * the generator.
  */
object StoreRw {
  final case class Size(events: Int, sessions: Int, block: Int, stopAfter: Int, lookups: Int)

  /** One timed pass, and the warm-up pass run on separate dirs before it. */
  val Timed = Size(events = 32000, sessions = 32, block = 8000, stopAfter = 2, lookups = 12)
  val Warm = Size(events = 16000, sessions = 32, block = 8000, stopAfter = 1, lookups = 3)

  final case class Gen(events: IndexedSeq[RawEvent], games: IndexedSeq[String],
      gameEvents: Map[String, Int], gameTicks: Map[String, Int], docTypes: Map[String, Long])

  private val Base = 1767268800000L // 2026-01-01T12:00:00Z: one date partition

  def generate(seed: Long, size: Size): Gen = {
    val rng = new scala.util.Random(seed)
    final class Session(s: Int) {
      private var game = -1
      private var gid = ""
      private var ticksLeft = 0
      private var tick = 0
      private var price = 1.0
      private var stage = 0 // 0 presale, 1 ticks/actions, 2 rug, 3 complete
      val games = mutable.ArrayBuffer.empty[String]

      def next(ts: Timestamp): (RawEvent, String, String) = stage match {
        case 0 =>
          game += 1; gid = f"s$s%03d-g$game%04d"; games += gid
          ticksLeft = 40 + rng.nextInt(120); tick = 0; price = 1.0; stage = 1
          (RawEvent(s"sess-$s", ts, "game.presale", Some(gid), None, None,
            s"""{"type":"newGame","gameId":"$gid"}"""), gid, "ws_event")
        case 1 if rng.nextInt(25) == 0 =>
          val side = if (rng.nextBoolean()) "buy" else "sell"
          (RawEvent(s"sess-$s", ts, s"player.$side", Some(gid), None, Some(price),
            s"""{"type":"playerAction","action":"$side","amount":${rng.nextInt(97)}}"""),
            gid, "player_action")
        case 1 =>
          price = math.max(0.01, price * (1.0 + (rng.nextDouble() - 0.48) * 0.1))
          val e = RawEvent(s"sess-$s", ts, "game.tick", None, Some(tick), Some(price),
            s"""{"type":"gameStateUpdate","tickCount":$tick,"price":$price}""")
          tick += 1; ticksLeft -= 1
          if (ticksLeft == 0) stage = 2
          (e, gid, "game_tick")
        case 2 =>
          stage = 3
          (RawEvent(s"sess-$s", ts, "game.rug", Some(gid), None, Some(price),
            s"""{"type":"rug","gameId":"$gid"}"""), gid, "ws_event")
        case _ =>
          stage = 0
          (RawEvent(s"sess-$s", ts, "game.complete", Some(gid), None, None,
            s"""{"id":"$gid","rugged":true,"peakMultiplier":$price}"""), gid, "complete_game")
      }
    }
    val sessions = (0 until size.sessions).map(new Session(_))
    val gameEvents = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val gameTicks = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val docTypes = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val events = (0 until size.events).map { i =>
      val (e, gid, docType) = sessions(i % size.sessions).next(new Timestamp(Base + i * 5L))
      gameEvents(gid) += 1
      if (docType == "game_tick") gameTicks(gid) += 1
      docTypes(docType) += 1
      e
    }
    Gen(events, sessions.flatMap(_.games).sorted, gameEvents.toMap, gameTicks.toMap,
      docTypes.toMap)
  }

  /** What one pass measured. */
  final class PassResult {
    val batchSec = mutable.ArrayBuffer.empty[Double]
    var recoverySec = 0.0
    var dedupSec = 0.0
    var dedupEvents = 0L
    val lookupSec = mutable.ArrayBuffer.empty[Double]
    val lookupCounts = new Counts
    var files = 0L
    var bytes = 0L
    var events = 0L
    var wall = 0.0
    var cpu = 0.0
    var progress = Seq.empty[BatchProgress]
  }

  private def storeFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) { if (f.getName.startsWith("_")) Nil else storeFiles(f) }
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def pass(ctx: Ctx, id: String, gen: Gen, size: Size, dir: java.io.File,
      lookupSeed: Long): PassResult = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val res = new PassResult
    res.events = gen.events.size
    val out = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "checkpoint").getPath
    val blocks = gen.events.grouped(size.block).toVector
    val stopAfter = math.min(size.stopAfter, blocks.size)
    val queries = mutable.ArrayBuffer.empty[StreamingQuery]
    val p0 = System.nanoTime()
    val cpu0 = ctx.processCpuNs

    ctx.trace.span(id, id) {
      // write path: closed loop, one block per committed batch
      val in = MemoryStream[RawEvent]
      val (q1, _) = ctx.tagged(id) {
        val q = Ingest.start(in.toDS(), out, ckpt, Trigger.ProcessingTime(0L))
        blocks.take(stopAfter).foreach { b =>
          val (_, ns) = ctx.timeNs(ctx.trace.span(id, "batch") {
            in.addData(b: _*)
            q.processAllAvailable()
          })
          res.batchSec += ns / 1e9
        }
        q.stop()
        q
      }
      ctx.log(s"$id: ${res.batchSec.size} batches in ${res.batchSec.sum} s")
      q1.left.foreach(t => throw t)
      queries ++= q1.toOption
      val committed = q1.toOption.toSeq.flatMap(_.recentProgress).map(_.numInputRows).sum
      if (committed != stopAfter.toLong * size.block)
        ctx.fail(s"$id: stopped after $committed rows, expected ${stopAfter.toLong * size.block}")

      // restart from the checkpoint and drain what arrived meanwhile
      blocks.drop(stopAfter).foreach(b => in.addData(b: _*))
      val (q2, ns2) = ctx.timeNs(ctx.tagged(id)(ctx.trace.span(id, "restart") {
        val q = Ingest.start(in.toDS(), out, ckpt, Trigger.AvailableNow())
        q.awaitTermination()
        q
      }))
      q2._1.left.foreach(t => throw t)
      queries ++= q2._1.toOption
      res.recoverySec = ns2 / 1e9
      ctx.log(s"$id: restart drained in ${res.recoverySec} s")

      // re-emitted game history: each game 10x, keep the first
      val emissions = for (r <- 0 until 10; (g, i) <- gen.games.zipWithIndex)
        yield (g, new Timestamp(Base + (r * gen.games.size + i) * 50L))
      res.dedupEvents = emissions.size
      val dIn = MemoryStream[(String, Timestamp)]
      dIn.addData(emissions: _*)
      val sink = s"perfbench_dedup_${System.nanoTime()}"
      val (q3, ns3) = ctx.timeNs(ctx.tagged(id)(ctx.trace.span(id, "dedup") {
        val q = Ingest.dedupGameHistory(dIn.toDF().toDF("game_id", "ts"))
          .writeStream.format("memory").queryName(sink)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }))
      q3._1.left.foreach(t => throw t)
      queries ++= q3._1.toOption
      res.dedupSec = ns3 / 1e9
      ctx.log(s"$id: dedup in ${res.dedupSec} s")
      res.wall = (System.nanoTime() - p0) / 1e9

      // read path
      val files = storeFiles(new java.io.File(out))
      res.files = files.size
      res.bytes = files.map(_.length).sum
      val (storeDf, openCounts) = ctx.tagged(id)(ctx.trace.span(id, "lookup") {
        val (df, ns) = ctx.timeNs { val d = EventStore.read(spark, out); d.schema; d }
        res.lookupSec += ns / 1e9
        df
      })
      res.lookupCounts.add(openCounts)
      val store = storeDf.fold(t => throw t, identity)
      val rng = new scala.util.Random(lookupSeed)
      (0 until size.lookups).foreach { _ =>
        val g = gen.games(rng.nextInt(gen.games.size))
        val (kind, expected, run) = rng.nextInt(10) match {
          case 0 | 1 | 2 =>
            ("gameEpisode", gen.gameEvents(g).toLong,
              () => EventQueriesApi.gameEpisode(store, g).collect().length.toLong)
          case 3 | 4 | 5 =>
            ("tickFeatures", gen.gameTicks.getOrElse(g, 0).toLong,
              () => EventQueriesApi.tickFeatures(store, Some(g)).collect().length.toLong)
          case 6 | 7 =>
            val offset = rng.nextInt(gen.games.size)
            val orderBy = Seq("game_id", "ts", "seq")(rng.nextInt(3))
            ("listGamesPaged", math.min(20, gen.games.size - offset).toLong,
              () => EventQueriesApi.listGamesPaged(store, orderBy, offset, 20)
                .collect().length.toLong)
          case 8 =>
            val n = 1 + rng.nextInt(100)
            ("recentEvents", n.toLong,
              () => EventQueriesApi.recentEvents(store, n).collect().length.toLong)
          case _ =>
            ("docTypeStats", gen.docTypes.size.toLong, () => {
              val rows = EventQueriesApi.docTypeStats(store).collect()
              val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
              if (got != gen.docTypes) -1L else rows.length.toLong
            })
        }
        ctx.attempted += 1
        val ((r, c), ns) = ctx.timeNs(ctx.tagged(id)(ctx.trace.span(id, "lookup")(run())))
        res.lookupSec += ns / 1e9
        res.lookupCounts.add(c)
        r match {
          case Left(t) => ctx.fail(s"$id/$kind: ${t.getClass.getSimpleName}: ${t.getMessage}")
          case Right(n) if n != expected => ctx.fail(s"$id/$kind($g): $n rows, expected $expected")
          case _ => ()
        }
      }
      res.wall = (System.nanoTime() - p0) / 1e9
      res.cpu = (ctx.processCpuNs - cpu0) / 1e9

      // exactly-once after the restart, checked outside the timed legs
      val written = spark.read.parquet(out)
      val rows = written.count()
      val distinct = written.select("session_id", "seq").distinct().count()
      if (rows != gen.events.size || distinct != rows)
        ctx.fail(s"$id: sink holds $rows rows ($distinct distinct), expected ${gen.events.size}")
      val unique = spark.table(sink).count()
      if (unique != gen.games.size)
        ctx.fail(s"$id: dedup kept $unique games, expected ${gen.games.size}")
      spark.sql(s"DROP VIEW IF EXISTS $sink")
    }
    // one attempted op per leg: each batch, the restart and the dedup
    ctx.attempted += stopAfter + 2
    res.progress = ctx.probe.takeBatches(queries.map(_.runId).toSeq)
    deleteTree(dir)
    res
  }

  /** Untimed warm-up on separate dirs, then timed passes within `seconds`
    * (a pass starts only if, as long as the last one, it ends in time).
    */
  def run(ctx: Ctx, work: java.io.File): Seq[PassResult] = {
    ctx.tracePass(-1)
    pass(ctx, "store_rw/warmup", generate(ctx.seed ^ 0x5eed, Warm), Warm,
      new java.io.File(work, "warmup"), ctx.seed + 1)
    System.gc()
    val gen = generate(ctx.seed, Timed)
    val out = mutable.ArrayBuffer.empty[PassResult]
    val t0 = System.nanoTime()
    var last = 0.0
    while (out.size < ctx.minPasses || (System.nanoTime() - t0) / 1e9 + last <= ctx.seconds) {
      ctx.tracePass(out.size)
      val p0 = System.nanoTime()
      out += pass(ctx, s"store_rw/pass", gen, Timed,
        new java.io.File(work, s"pass${out.size}"), ctx.seed * 31 + out.size)
      last = (System.nanoTime() - p0) / 1e9
    }
    out.toSeq
  }
}
