package graft.store

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Round-trip + query-surface tests over the canonical mini-dataset of
  * FIXTURES.md §1 (mirrors the reference's `test_duckdb.py:40-150` fixture:
  * 3 games of 10/5/3 ticks, 2 players, buy/sell actions, one session).
  */
class EventStoreSpec extends SparkSpec {

  private lazy val storePath: String = {
    val dir = graft.store.LocalFs.scratchDir("graft-eventstore").toString
    EventStore.write(Fixture.envelopes(spark), dir, SaveMode.Overwrite)
    dir
  }
  private lazy val env: DataFrame = EventStore.read(spark, storePath)

  test("round-trip preserves row count and envelope columns") {
    assert(env.count() === 22) // 18 ticks + 4 actions
    assert(env.columns.toSet ===
      (EventStore.envelopeSchema.fieldNames.toSet -- Set("ts") ++ Set("ts", "date")))
  }

  test("physical layout is doc_type=/date= Hive partitions") {
    val dirs = new java.io.File(storePath).listFiles.filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet === Set("doc_type=game_tick", "doc_type=player_action"))
    val dateDirs = new java.io.File(s"$storePath/doc_type=game_tick")
      .listFiles.filter(_.isDirectory).map(_.getName)
    assert(dateDirs.forall(_.startsWith("date=2026-01-0")))
  }

  test("doc_type filter is partition-pruned by Catalyst") {
    val plan = EventStore.readDocType(spark, storePath, "game_tick")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(EventStore.readDocType(spark, storePath, "game_tick").count() === 18)
  }

  test("gameEpisode returns one game's events in seq order") {
    val ep = EventQueriesApi.gameEpisode(env, "game-001").collect()
    assert(ep.length === 12) // 10 ticks + 2 actions
    assert(ep.map(_.getAs[Long]("seq")).toSeq === ep.map(_.getAs[Long]("seq")).toSeq.sorted)
  }

  test("qualifyingGameIds applies HAVING min_ticks") {
    val ids = EventQueriesApi.qualifyingGameIds(env, 5)
      .collect().map(_.getString(0)).toSet
    assert(ids === Set("game-001", "game-002"))
  }

  test("episodes of qualifying games come back in 5 jobs, game/seq ordered") {
    env.schema // the read's schema-merge job runs before the count
    // the tick-count exchange, the broadcast of the qualifying ids, then
    // the range sort's sampling job, its exchange and the result: one
    // semi-join for every game, not one fetch per game
    var rows: Array[Row] = Array.empty
    assert(jobsOf { rows = EventQueriesApi.episodes(env, 5).collect() } === 5)
    assert(rows.map(_.getAs[String]("game_id")).distinct.toSet ===
      Set("game-001", "game-002"))
    val g1 = rows.filter(_.getAs[String]("game_id") == "game-001").map(_.getAs[Long]("seq"))
    assert(g1.toSeq === g1.toSeq.sorted)
  }

  test("playerGameEvents = semi-join on the player's games") {
    // player-bob only bought in game-002 ⇒ all 6 events of game-002
    val rows = EventQueriesApi.playerGameEvents(env, "player-bob").collect()
    assert(rows.map(_.getAs[String]("game_id")).toSet === Set("game-002"))
    assert(rows.length === 6)
  }

  test("docTypeStats: counts, ts range, distinct sessions per doc_type") {
    val stats = EventQueriesApi.docTypeStats(env).collect()
      .map(r => r.getAs[String]("doc_type") -> r.getAs[Long]("n_events")).toMap
    assert(stats === Map("game_tick" -> 18L, "player_action" -> 4L))
    // every column, in doc_type order
    val rows = EventQueriesApi.docTypeStats(env).collect().toSeq
    assert(rows.map(_.toSeq) === Seq(
      Seq("game_tick", 18L, "2026-01-01T00:00:00.000000+00:00",
        "2026-01-03T00:00:02.000000+00:00", 1L),
      Seq("player_action", 4L, "2026-01-01T00:01:00.000000+00:00",
        "2026-01-03T00:01:00.000000+00:00", 1L)))
  }

  test("listPlayers: distinct non-null players in player_id order, limited") {
    def players(n: Int) = EventQueriesApi.listPlayers(env, n).collect().map(_.getString(0)).toSeq
    assert(players(10) === Seq("player-alice", "player-bob"))
    assert(players(1) === Seq("player-alice"))
  }

  test("gamesByIds: every event of the listed games, game/seq ordered") {
    val rows = EventQueriesApi.gamesByIds(env, Seq("game-003", "game-001", "game-404"))
      .collect().map(r => (r.getAs[String]("game_id"), r.getAs[Long]("seq"))).toSeq
    assert(rows === ((0L until 10L) ++ Seq(100L, 101L)).map(("game-001", _)) ++
      Seq(300L, 301L, 302L, 310L).map(("game-003", _)))
  }

  test("tickFeatures matches hand-computed values for game-001") {
    // game-001 prices: 1.0, 1.1, ..., 1.9 (price = 1.0 + 0.1*tick)
    val f = EventQueriesApi.tickFeatures(env, Some("game-001")).collect()
    assert(f.length === 10)
    val first = f.head
    assert(first.isNullAt(first.fieldIndex("price_delta")))      // no lag row
    assert(first.getAs[Double]("running_max") === 1.0)
    val second = f(1)
    assert(math.abs(second.getAs[Double]("price_delta") - 0.1) < 1e-9)
    assert(math.abs(second.getAs[Double]("pct_change") - 0.1) < 1e-9)
    val last = f.last
    assert(last.getAs[Double]("running_max") === 1.9)
    assert(math.abs(last.getAs[Double]("drawdown")) < 1e-12)     // monotone rise
    // 5-tick rolling sample stddev of arithmetic series step 0.1:
    // stddev([x,x+.1,...,x+.4]) = 0.1 * stddev([0,1,2,3,4]) = 0.1*sqrt(2.5)
    assert(math.abs(last.getAs[Double]("volatility_5") - 0.1 * math.sqrt(2.5)) < 1e-9)
  }

  test("JSONL export writes per-doc_type line JSON ordered by ts") {
    val out = graft.store.LocalFs.scratchDir("graft-jsonl").toString
    EventStore.exportJsonl(env, out)
    val back = spark.read.json(s"$out/doc_type=game_tick")
    assert(back.count() === 18)
    assert(!back.columns.contains("price") ||
      back.filter(col("price").isNotNull).count() === 18)
  }

  test("CSV export round-trips a flattened summary table (S8)") {
    val out = graft.store.LocalFs.scratchDir("graft-csv").toString
    val summary = env.groupBy("game_id")
      .agg(count(lit(1)).as("n_events"))
      .filter(col("game_id").isNotNull)
    EventStore.exportCsv(summary, out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.columns.toSeq === Seq("game_id", "n_events"))
    assert(back.count() === summary.count())
  }

  test("compact merges small-file partitions, preserves rows, skips healthy ones") {
    // fresh store written in MANY small appends — the micro-batch landing
    // pattern compact exists for
    val dir = graft.store.LocalFs.scratchDir("graft-compact").toString
    val envs = Fixture.envelopes(spark)
    EventStore.write(envs.limit(0), dir, SaveMode.Overwrite)
    envs.collect().grouped(3).foreach { chunk =>
      EventStore.write(spark.createDataFrame(
        spark.sparkContext.parallelize(chunk.toSeq, 1),
        EventStore.envelopeSchema), dir)
    }
    def files(sub: String) = new java.io.File(s"$dir/$sub").listFiles
      .filter(f => f.getName.endsWith(".parquet")).length
    val before = EventStore.read(spark, dir).orderBy("seq", "doc_type")
      .collect().toSeq
    assert(files("doc_type=game_tick/date=2026-01-01") > 1, "setup: want small files")

    val done = EventStore.compact(spark, dir, targetFileBytes = 1L << 30,
      maxFilesPerPartition = 1)
    assert(done.nonEmpty)
    // every compacted partition landed at its computed file count (1: tiny
    // bytes vs 1 GiB target), no tmp/old dirs left behind
    done.foreach { case (dt, date, nBefore, nAfter) =>
      assert(nAfter === 1 && nBefore > 1, s"$dt/$date")
      assert(files(s"doc_type=$dt/date=$date") === 1)
    }
    assert(!new java.io.File(dir).list().exists(_.contains("compact")),
      "no leftover tmp dirs")
    val after = EventStore.read(spark, dir).orderBy("seq", "doc_type")
      .collect().toSeq
    assert(after === before, "compaction must not change the data")

    // second run: everything is within policy now — no partition rewritten
    assert(EventStore.compact(spark, dir, targetFileBytes = 1L << 30,
      maxFilesPerPartition = 1).isEmpty)
  }

  test("compact recovery heals a crash between the publish renames") {
    val dir = graft.store.LocalFs.scratchDir("graft-compact-recover").toString
    EventStore.write(Fixture.envelopes(spark), dir, SaveMode.Overwrite)
    val before = EventStore.read(spark, dir).orderBy("seq", "doc_type")
      .collect().toSeq
    val base = new java.io.File(s"$dir/doc_type=game_tick")
    val part = base.listFiles.filter(_.isDirectory).head
    val partName = part.getName
    // simulate the crash window: original moved aside, half-written tmp left
    val old = new java.io.File(base, s".compact_old_$partName")
    assert(part.renameTo(old))
    val tmp = new java.io.File(base, s".compact_tmp_$partName")
    assert(tmp.mkdir())
    // the stray dirs are dot-prefixed: a concurrent reader sees the
    // partition missing, never doubled or with a broken date value
    assert(EventStore.read(spark, dir).count() < before.size)
    // any later compact() run begins with the recovery sweep
    EventStore.compact(spark, dir)
    assert(new java.io.File(base, partName).isDirectory, "partition restored")
    assert(!old.exists && !tmp.exists, "strays cleaned up")
    val after = EventStore.read(spark, dir).orderBy("seq", "doc_type")
      .collect().toSeq
    assert(after === before, "no rows lost across crash + recovery")
    // publish-finished variant: both the partition and a stale old copy
    // exist -> recovery drops the stray, keeps the live partition
    assert(tmp.mkdir())
    val old2 = new java.io.File(base, s".compact_old_$partName")
    assert(old2.mkdir())
    EventStore.compact(spark, dir)
    assert(new java.io.File(base, partName).isDirectory && !old2.exists && !tmp.exists)
    assert(EventStore.read(spark, dir).count() === before.size)
  }

  test("compact preserves columns present in only some files (mergeSchema)") {
    import spark.implicits._
    val dir = graft.store.LocalFs.scratchDir("graft-compact-schema").toString
    val part = s"$dir/doc_type=mixed/date=2026-01-01"
    // one partition, two files, different column sets — legal in this
    // store because read() merges footers (union_by_name)
    Seq(("a", 1L)).toDF("session_id", "seq")
      .coalesce(1).write.mode("append").parquet(part)
    Seq(("b", 2L, "x")).toDF("session_id", "seq", "extra")
      .coalesce(1).write.mode("append").parquet(part)
    val done = EventStore.compact(spark, dir, targetFileBytes = 1L << 30,
      maxFilesPerPartition = 1)
    assert(done.map(d => (d._1, d._4)) === Seq(("mixed", 1)))
    val back = spark.read.option("mergeSchema", "true").parquet(part)
    assert(back.columns.toSet === Set("session_id", "seq", "extra"),
      "a column present in only one input file must survive the rewrite")
    assert(back.count() === 2)
    assert(back.where(col("extra") === "x").count() === 1)
    assert(back.where(col("session_id") === "a").head().isNullAt(
      back.columns.indexOf("extra")))
  }
}

/** Canonical mini-dataset builder (FIXTURES.md §1). */
object Fixture {
  import org.apache.spark.sql.SparkSession

  def envelopes(spark: SparkSession): DataFrame = {
    val session = "sess-0001"
    def tick(game: String, day: Int, t: Int, seq: Long, base: Double, step: Double): Row =
      Row(f"2026-01-0$day%dT00:00:${t}%02d.000000+00:00", "cdp", "game_tick", session,
        seq, "received", s"""{"tick":$t}""", game, null, null, "gameStateUpdate",
        (base + step * t).toString, t.toLong, null, null, null, null, null, null, null)
    def action(game: String, day: Int, seq: Long, player: String, act: String): Row =
      Row(f"2026-01-0$day%dT00:01:00.000000+00:00", "cdp", "player_action", session,
        seq, "received", s"""{"type":"$act"}""", game, player, player.stripPrefix("player-"),
        null, null, null, act, null, null, null, null, null, null)

    val rows =
      (0 until 10).map(t => tick("game-001", 1, t, t.toLong, 1.0, 0.1)) ++
        Seq(action("game-001", 1, 100L, "player-alice", "buy"),
          action("game-001", 1, 101L, "player-alice", "sell")) ++
        (0 until 5).map(t => tick("game-002", 2, t, 200L + t, 2.0, 0.2)) ++
        Seq(action("game-002", 2, 210L, "player-bob", "buy")) ++
        (0 until 3).map(t => tick("game-003", 3, t, 300L + t, 3.0, 0.3)) ++
        Seq(action("game-003", 3, 310L, "player-alice", "buy"))

    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), EventStore.envelopeSchema)
  }
}
