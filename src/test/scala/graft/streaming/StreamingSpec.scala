package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.store.EventStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {

  import StreamingSpec.{raw, tmp, ts}
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ingestStopRestart(out: String, ckpt: String): Int =
    StreamingSpec.ingestStopRestart(spark, out, ckpt)

  test("normalizer assigns per-session monotonic seq and carries game_id forward") {
    val events = Seq(
      raw("s1", 1000, "game.presale", game = Some("g1")),
      raw("s1", 2000, "game.tick", tick = Some(1), price = Some(1.0)),
      raw("s1", 3000, "game.tick", tick = Some(2), price = Some(1.1)),
      raw("s2", 1500, "game.presale", game = Some("g9")),
      raw("s2", 2500, "game.tick", tick = Some(1), price = Some(2.0)))
    val out = Normalizer.normalize(events.toDS()).collect()
    val s1 = out.filter(_.session_id == "s1").sortBy(_.seq)
    assert(s1.map(_.seq).toSeq === Seq(0L, 1L, 2L))
    assert(s1.forall(_.game_id.contains("g1"))) // carried into tick events
    val s2 = out.filter(_.session_id == "s2").sortBy(_.seq)
    assert(s2.map(_.seq).toSeq === Seq(0L, 1L))
    assert(s2.last.game_id.contains("g9"))
  }

  test("phase machine follows legal transitions and flags illegal ones") {
    val events = Seq(
      raw("s1", 1000, "game.presale"),
      raw("s1", 2000, "game.tick"),   // PRESALE -> ACTIVE legal
      raw("s1", 3000, "game.rug"),    // ACTIVE -> RUGGED legal
      raw("s1", 4000, "game.tick"),   // RUGGED -> ACTIVE illegal: flagged
      raw("s1", 5000, "game.cooldown"))
    val out = Normalizer.normalize(events.toDS()).collect().sortBy(_.seq)
    assert(out.map(_.phase).toSeq ===
      Seq("PRESALE", "ACTIVE", "RUGGED", "RUGGED", "COOLDOWN"))
    assert(out.map(_.phase_valid).toSeq === Seq(true, true, true, false, true))
  }

  test("normalizer state persists across micro-batches (streaming seq continues)") {
    val input = MemoryStream[RawEvent]
    val q = Normalizer.normalize(input.toDS()).writeStream
      .format("memory").queryName("norm_out").outputMode("append").start()
    try {
      input.addData(raw("s1", 1000, "game.presale", game = Some("g1")))
      q.processAllAvailable()
      input.addData(raw("s1", 2000, "game.tick"), raw("s1", 3000, "game.tick"))
      q.processAllAvailable()
      val rows = spark.table("norm_out").as[NormalizedEvent].collect().sortBy(_.seq)
      assert(rows.map(_.seq).toSeq === Seq(0L, 1L, 2L))
      // game_id carried across the batch boundary via state
      assert(rows.forall(_.game_id.contains("g1")))
    } finally q.stop()
  }

  test("normalizer output is invariant to how the stream is batched") {
    val events = (0 until 30).map { i =>
      raw("s1", 1000L + i * 500, if (i % 7 == 0) "game.presale" else "game.tick",
        game = if (i % 7 == 0) Some(s"g${i / 7}") else None)
    }
    def runWithBatches(batches: Seq[Seq[RawEvent]]): Seq[(Long, String, String)] = {
      val input = MemoryStream[RawEvent]
      val name = s"norm_inv_${batches.size}"
      val q = Normalizer.normalize(input.toDS()).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[NormalizedEvent].collect().sortBy(_.seq)
          .map(n => (n.seq, n.game_id.getOrElse(""), n.phase)).toSeq
      } finally q.stop()
    }
    val oneBatch = runWithBatches(Seq(events))
    val manyBatches = runWithBatches(events.grouped(4).toSeq)
    assert(oneBatch === manyBatches)
    assert(oneBatch.map(_._1) === (0L until 30L)) // seq dense + monotonic
  }

  test("rug pair detection suppresses the second emission within 500 ms") {
    val input = MemoryStream[Detectors.RugEmission]
    val q = Detectors.detectRugPairs(input.toDS()).writeStream
      .format("memory").queryName("pairs_out").outputMode("append").start()
    try {
      input.addData(
        Detectors.RugEmission("g1", ts(10000)),
        Detectors.RugEmission("g1", ts(10300)),  // dual broadcast: dup
        Detectors.RugEmission("g2", ts(10100)))
      q.processAllAvailable()
      input.addData(Detectors.RugEmission("g1", ts(20000))) // next game cycle
      q.processAllAvailable()
      val rows = spark.table("pairs_out").as[Detectors.RugDetection].collect()
      val g1 = rows.filter(_.game_id == "g1").sortBy(_.ts.getTime)
      assert(g1.map(_.is_duplicate).toSeq === Seq(false, true, false))
      assert(rows.filter(_.game_id == "g2").forall(!_.is_duplicate))
    } finally q.stop()
  }

  test("gap detector maps inter-event gaps to likelihood ratios 1.5/3/8") {
    assert(Detectors.gapLikelihoodRatio(349) === 1.0)
    assert(Detectors.gapLikelihoodRatio(350) === 1.5)
    assert(Detectors.gapLikelihoodRatio(450) === 3.0)
    assert(Detectors.gapLikelihoodRatio(500) === 8.0)
    val events = Seq(
      Detectors.TickArrival("s1", ts(1000)),
      Detectors.TickArrival("s1", ts(1250)),  // gap 250 -> 1.0
      Detectors.TickArrival("s1", ts(1700)),  // gap 450 -> 3.0
      Detectors.TickArrival("s1", ts(2300)))  // gap 600 -> 8.0
    val out = Detectors.detectGaps(events.toDS()).collect().sortBy(_.ts.getTime)
    assert(out.map(_.gap_ms).toSeq === Seq(250L, 450L, 600L))
    assert(out.map(_.likelihood_ratio).toSeq === Seq(1.0, 3.0, 8.0))
  }

  test("ring buffer caps retained ticks per game and snapshots the window") {
    val input = MemoryStream[Detectors.Tick]
    val q = Detectors.ringBuffer(input.toDS(), capacity = 3).writeStream
      .format("memory").queryName("ring_out").outputMode("append").start()
    try {
      input.addData((1 to 5).map(i => Detectors.Tick("g1", i, i * 1.0, ts(i * 1000L))): _*)
      q.processAllAvailable()
      val snap = spark.table("ring_out").as[Detectors.RingSnapshot].collect()
        .filter(_.game_id == "g1").last
      assert(snap.n_buffered === 3)          // capacity bound
      assert(snap.min_tick === 3 && snap.max_tick === 5)
      assert(snap.last_price === 5.0)
    } finally q.stop()
  }

  test("ingest writes doc_type=/date= partitioned parquet via the file sink") {
    val input = MemoryStream[RawEvent]
    val out = tmp("graft-ingest-out")
    val ckpt = tmp("graft-ingest-ckpt")
    // AvailableNow snapshots end offsets at start: data must exist first
    input.addData(
      raw("s1", 1700000000000L, "game.presale", game = Some("g1")),
      raw("s1", 1700000001000L, "game.tick", tick = Some(1), price = Some(1.0)),
      raw("s1", 1700000002000L, "player.buy", game = Some("g1")))
    val q = Ingest.start(input.toDS(), out, ckpt, Trigger.AvailableNow())
    q.awaitTermination(60000)
    val files = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("doc_type="))
    assert(files.contains("doc_type=game_tick"))
    assert(files.contains("doc_type=ws_event"))
    assert(files.contains("doc_type=player_action"))
    val back = EventStore.read(spark, out)
    assert(back.count() === 3)
    assert(back.filter(col("doc_type") === "game_tick").count() === 1)
    // partition pruning works over the sink's layout
    assert(back.select(col("date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq === Seq("2023-11-14"))
  }

  test("ingest restart from checkpoint is exactly-once (no re-emission)") {
    val input = MemoryStream[RawEvent]
    val out = tmp("graft-restart-out")
    val ckpt = tmp("graft-restart-ckpt")
    input.addData(raw("s1", 1700000000000L, "game.tick", game = Some("g1"),
      tick = Some(1), price = Some(1.0)))
    Ingest.start(input.toDS(), out, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)
    assert(EventStore.read(spark, out).count() === 1)
    // restart against the SAME checkpoint with one more event: the sink
    // commit log must not replay the first one
    input.addData(raw("s1", 1700000001000L, "game.tick",
      tick = Some(2), price = Some(1.1)))
    Ingest.start(input.toDS(), out, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)
    val back = EventStore.read(spark, out)
    assert(back.count() === 2)
    assert(back.select("seq").distinct().count() === 2) // no duplicate seq
  }

  test("ingest writes one parquet file per partition per batch, across a restart") {
    val out = tmp("graft-layout-out")
    val fed = ingestStopRestart(out, tmp("graft-layout-ckpt"))
    val files = for {
      d <- new java.io.File(out).listFiles.toSeq if d.getName.startsWith("doc_type=")
      p <- d.listFiles.toSeq if p.isDirectory
    } yield s"${d.getName}/${p.getName}" -> p.listFiles.count(_.getName.endsWith(".parquet"))
    // one file for each batch that had rows for the partition
    assert(files.toMap === Map(
      "doc_type=ws_event/date=2023-11-14" -> 1,        // batch 1
      "doc_type=game_tick/date=2023-11-14" -> 2,       // batches 1, 2
      "doc_type=player_action/date=2023-11-14" -> 1,   // batch 1
      "doc_type=complete_game/date=2023-11-15" -> 1,   // batch 2
      "doc_type=game_tick/date=2023-11-15" -> 2,       // batch 2, restart
      "doc_type=player_action/date=2023-11-15" -> 1))  // restart
    val back = EventStore.read(spark, out)
    assert(back.count() === fed)
    assert(back.select("session_id", "seq").distinct().count() === fed) // exactly once
  }

  test("ingest, stop and restart start no process (no-fork local file system)") {
    // Hadoop forks twice once per JVM (Shell's setsid probe, getconf
    // PAGESIZE); a warm-up run takes those out of the recording
    ingestStopRestart(tmp("graft-fork-warm-out"), tmp("graft-fork-warm-ckpt"))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try ingestStopRestart(tmp("graft-fork-out"), tmp("graft-fork-ckpt")) finally rec.stop()
    val jfr = graft.store.LocalFs.scratchDir("graft-fork-jfr").resolve("fork.jfr")
    rec.dump(jfr)
    rec.close()
    // Spark's removal of a collected session's artifact directory
    // (`JavaUtils.deleteRecursively` forks `rm -rf`) runs on the JDK Cleaner
    // thread whenever a GC finds a stopped query's cloned session: once per
    // session at a time the GC picks, not per file, so it is not counted.
    // The builder's `spark.sql.artifact.isolation.enabled = false` does not
    // remove it: in Spark 4.1.2 `ArtifactManager`'s constructor registers
    // that cleanup for every session, isolated or not
    val started = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      .filterNot(c => c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    assert(started.isEmpty, s"${started.size} processes started, e.g. ${started.take(3)}")
  }

  test("idle session state is evicted once the watermark passes the timeout horizon") {
    val input = MemoryStream[RawEvent]
    val q = Normalizer.normalize(input.toDS()).writeStream
      .format("memory").queryName("evict_out").outputMode("append").start()
    try {
      val t0 = 1700000000000L
      input.addData(raw("s1", t0, "game.tick"))
      q.processAllAvailable()
      // another session 50 min later pushes the watermark (delay 10 min)
      // past s1's 30-min deadline -> s1's state is evicted
      input.addData(raw("s2", t0 + 50 * 60 * 1000L, "game.tick"))
      q.processAllAvailable()
      // s1 returns (above the watermark): a fresh session, seq restarts at 0
      input.addData(raw("s1", t0 + 55 * 60 * 1000L, "game.tick"))
      q.processAllAvailable()
      val s1 = spark.table("evict_out").as[NormalizedEvent].collect()
        .filter(_.session_id == "s1").sortBy(_.ts.getTime)
      assert(s1.map(_.seq).toSeq === Seq(0L, 0L)) // NOT Seq(0L, 1L): evicted
    } finally q.stop()
  }

  test("streaming dedup keeps first emission per game_id across batches") {
    val input = MemoryStream[Detectors.RugEmission]
    val deduped = Ingest.dedupGameHistory(input.toDS().toDF())
    val q = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData(
        Detectors.RugEmission("g1", ts(1000)),
        Detectors.RugEmission("g1", ts(2000)),
        Detectors.RugEmission("g2", ts(1500)))
      q.processAllAvailable()
      input.addData(Detectors.RugEmission("g1", ts(3000))) // re-emission later batch
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 2) // one per game
    } finally q.stop()
  }
}

object StreamingSpec {

  def ts(ms: Long) = new Timestamp(ms)
  def raw(sess: String, ms: Long, name: String,
      game: Option[String] = None, tick: Option[Int] = None,
      price: Option[Double] = None) =
    RawEvent(sess, ts(ms), name, game, tick, price, "{}")

  def tmp(prefix: String) =
    graft.store.LocalFs.scratchDir(prefix).toString

  // 2023-11-14T23:59:50Z: the stream crosses midnight into a second date
  private val Eve = 1700006390000L

  /** Three blocks over 4 sessions, 4 doc types and 2 dates: the first two
    * as closed-loop batches, then a stop, then the third drained by a
    * restart with `AvailableNow`. Returns the number of events fed.
    */
  def ingestStopRestart(spark: SparkSession, out: String, ckpt: String): Int = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val blocks = Seq(
      (1 to 4).flatMap { s => Seq(
        raw(s"s$s", Eve + s * 100, "game.presale", game = Some(s"g$s")),
        raw(s"s$s", Eve + 1000 + s * 100, "game.tick", tick = Some(1), price = Some(1.0)))
      } :+ raw("s1", Eve + 2000, "player.buy", price = Some(1.0)),
      Seq(raw("s1", Eve + 8000, "game.tick", tick = Some(2), price = Some(1.1)),
        raw("s2", Eve + 12000, "game.complete"),
        raw("s3", Eve + 13000, "game.tick", tick = Some(2), price = Some(0.9))),
      Seq(raw("s1", Eve + 16000, "game.tick", tick = Some(3), price = Some(1.2)),
        raw("s2", Eve + 17000, "player.sell", price = Some(1.0))))
    val input = MemoryStream[RawEvent]
    val q = Ingest.start(input.toDS(), out, ckpt, Trigger.ProcessingTime(0L))
    try blocks.take(2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    input.addData(blocks(2): _*)
    Ingest.start(input.toDS(), out, ckpt, Trigger.AvailableNow()).awaitTermination(60000)
    blocks.map(_.size).sum
  }
}
