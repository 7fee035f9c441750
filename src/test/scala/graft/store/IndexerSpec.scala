package graft.store

import graft.SparkSpec
import graft.streaming.Replay
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class IndexerSpec extends SparkSpec {

  import spark.implicits._

  private lazy val envelopes = Seq(
    ("s1", 0L, "2024-01-01T00:00:00", """{"id":"a"}"""),
    ("s1", 1L, "2024-01-01T00:00:01", """{"id":"b"}"""),
    ("s1", 2L, "2024-01-01T00:00:02", """{"id":"c"}"""),
    ("s1", 3L, "2024-01-01T00:00:03", """{"id":"d"}"""),
    ("s2", 0L, "2024-01-01T00:00:04", """{"id":"e"}"""))
    .toDF("session_id", "seq", "ts", "raw_json")

  test("chunker groups consecutive events per session in seq order") {
    val chunks = Indexer.chunk(envelopes, chunkSize = 2)
      .collect().map(r => (r.getAs[String]("session_id"), r.getAs[Long]("chunk_id")) -> r)
      .toMap
    assert(chunks.size === 3) // s1: [0,1], [2,3]; s2: [0]
    val c0 = chunks(("s1", 0L))
    assert(c0.getAs[Long]("first_seq") === 0L && c0.getAs[Long]("last_seq") === 1L)
    assert(c0.getAs[String]("chunk_text") === "{\"id\":\"a\"}\n{\"id\":\"b\"}")
    assert(chunks(("s1", 1L)).getAs[String]("chunk_text")
      === "{\"id\":\"c\"}\n{\"id\":\"d\"}")
  }

  test("incremental chunks consume only events past the checkpoint") {
    val dir = graft.store.LocalFs.scratchDir("graft-idx").toString
    val env = envelopes
      .withColumn("doc_type", lit("ws_event"))
      .withColumn("game_id", lit("g1"))
    EventStore.write(env, dir)
    val inc = Indexer.incrementalChunks(spark, dir, "2024-01-01T00:00:01", chunkSize = 2)
    // only seqs 2,3 (s1) and 0 (s2) are past the checkpoint
    assert(inc.agg(sum("n_events")).head().getLong(0) === 3L)
    val next = inc.agg(max("max_ts")).head().getString(0)
    assert(next === "2024-01-01T00:00:04")
  }

  test("validation splits ok / warning / error by parse result") {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("v", LongType)))
    val rows = Seq(
      ("""{"id":"a","v":1}""", "ok"),
      ("""{"v":2}""", "warning"),      // parses, missing required id
      ("""not json at all""", "error"))
      .toDF("raw_json", "expected")
    val out = Indexer.validate(rows, schema, "id").collect()
    out.foreach { r =>
      assert(r.getAs[String]("severity") === r.getAs[String]("expected"),
        s"for ${r.getAs[String]("raw_json")}")
    }
  }

  test("mtime pruning reads only files modified since the cutoff") {
    val dir = graft.store.LocalFs.scratchDir("graft-mtime").toString
    val mk = (dt: String, n: Int) => Seq.tabulate(n)(i =>
      (s"2024-01-01T00:00:0$i", "ws_event", s"s-$dt", i.toLong, "{}"))
      .toDF("ts", "doc_type", "session_id", "seq", "raw_json")
    EventStore.write(mk("old", 2), dir)
    val cutoff = new java.sql.Timestamp(System.currentTimeMillis() + 5000)
    val pruned = EventStore.readModifiedSince(spark, dir, cutoff)
    assert(pruned.count() === 0) // everything older than the future cutoff
    val all = EventStore.readModifiedSince(spark, dir,
      new java.sql.Timestamp(0L))
    assert(all.count() === 2)
  }

  test("replay stream re-feeds the store through the streaming DAG, throttled") {
    val dir = graft.store.LocalFs.scratchDir("graft-replay").toString
    val env = envelopes
      .withColumn("doc_type", lit("ws_event"))
    EventStore.write(env, dir)
    val schema = spark.read.parquet(dir).schema
    val q = Replay.stream(spark, dir, schema, filesPerTrigger = 1)
      .writeStream.format("memory").queryName("replay_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("replay_out").count() === 5)
    } finally q.stop()
  }

  test("reconciliation flags drifted (game_id, tick) pairs") {
    val local = Seq(("g1", 1, 1.00), ("g1", 2, 1.10), ("g1", 3, 1.20))
      .toDF("game_id", "tick", "price")
    val server = Seq(("g1", 1, 1.00), ("g1", 2, 1.15), ("g1", 3, 1.20))
      .toDF("game_id", "tick", "price")
    val rec = Replay.reconcile(local, server).collect()
      .map(r => r.getAs[Int]("tick") -> r.getAs[Boolean]("mismatch")).toMap
    assert(rec === Map(1 -> false, 2 -> true, 3 -> false))
  }
}
