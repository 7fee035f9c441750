package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** T1/T4/T6/T13 (SURVEY §2.9, §3.2): the live capture pipeline —
  * raw events → normalize → partitioned Parquet, plus watermarked streaming
  * dedup of the re-emitted game history.
  *
  * Reference: EventBus dispatch (`src/services/event_bus.py:257-324`) becomes
  * the streaming DAG itself; the buffered writer ("flush at 100 events or
  * 5 s", `writer.py:49-141`) becomes the file sink's 5-second processing-time
  * trigger + sink commit log (exactly-once replaces atomic temp+rename);
  * gameHistory 10×-re-emission dedup (`session_tracker.py:9-16`,
  * training README "Deduplication Notes") becomes
  * `withWatermark + dropDuplicates`.
  */
object Ingest {

  val FlushInterval = "5 seconds" // writer.py:49-65 flush cadence

  /** doc_type classification from the normalized event name — the stream
    * analog of `EventStoreService._on_ws_raw_event` (`service.py:373-455`).
    */
  def docTypeFor: org.apache.spark.sql.Column =
    when(col("event_name") === "game.tick", "game_tick")
      .when(col("event_name").startsWith("player."), "player_action")
      .when(col("event_name") === "game.complete", "complete_game")
      .otherwise("ws_event")

  /** Normalize → classify → 5 s-trigger Hive-partitioned Parquet sink
    * (doc_type=/date=), same layout the batch store reads (S2/S5).
    *
    * One file per partition per micro-batch: the rows are hash-partitioned
    * on `(doc_type, date)` before the sink, so each Hive partition's rows
    * of a batch sit in one task and the sink writes one file for it — the
    * reference's one flush per partition buffer (`writer.py:125-131`).
    * Without it every task writes a file into every partition it holds
    * rows for (48 files of ~28 KB for 32k events on 4 cores, 12 with it),
    * and every read opens all of them. The trade-off is one writer task
    * per `(doc_type, date)` per batch; at the reference's rate (a few
    * events a second on a 5 s trigger) that is tens of rows, and bulk
    * backfills go through the batch `EventStore.write`. The exchange is
    * stateless: the normalizer's state and its checkpointed partition
    * count are unchanged.
    */
  def start(
      raw: Dataset[RawEvent],
      outPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime(FlushInterval)): StreamingQuery =
    Normalizer.normalize(raw).toDF()
      .withColumn("doc_type", docTypeFor)
      .withColumn("date", date_format(col("ts"), "yyyy-MM-dd"))
      .repartition(col("doc_type"), col("date"))
      .writeStream
      .format("parquet")
      .option("checkpointLocation", checkpointPath)
      .partitionBy("doc_type", "date")
      .trigger(trigger)
      .start(outPath)

  /** T6 — streaming dedup of the rolling game-history re-emissions: each
    * game arrives ~10× plus a dual rug broadcast; keep the first per
    * game_id. `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`):
    * with a key-only subset, plain dropDuplicates never evicts its state —
    * the within-watermark variant drops per-key state once the watermark
    * passes it, which is exactly the re-emission window semantics (a game
    * re-broadcasts for ~10 games ≈ minutes, never days later).
    */
  def dedupGameHistory(games: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    games
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("game_id")
}
