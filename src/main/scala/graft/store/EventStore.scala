package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The canonical event-envelope store: one wide, fixed, versioned schema
  * persisted as Hive-partitioned Parquet — the Spark re-expression of the
  * reference's event store.
  *
  * Reference: 20-column envelope `src/services/event_store/schema.py:46-89`
  * (PyArrow schema at `writer.py:254-278`); physical layout
  * `events_parquet/doc_type=<t>/date=<YYYY-MM-DD>/` (`writer.py:42-45`,
  * `paths.py:63-74`); reads are glob scans with hive_partitioning +
  * union_by_name (`src/scripts/query_session.py:43-53`).
  *
  * Design decisions preserved from the reference:
  *   - `price`/`cash`/`position_qty` stay STRING on disk ("Decimal stored as
  *     string", `writer.py:268-272`); queries cast exactly like
  *     `duckdb.py:435` does;
  *   - hot JSON fields are extracted to top-level columns at write time
  *     (`schema.py:77-89` "for efficient queries") — that's projection
  *     pushdown by schema design;
  *   - partitioning by (doc_type, date) makes Catalyst partition pruning
  *     replace the reference's manual glob construction (`duckdb.py:67-68`).
  */
object EventStore {

  val SchemaVersion = "1.0.0" // schema.py:342

  /** Envelope schema (writer.py:254-278): everything string except the three
    * int64s; `doc_type`/`date` become partition columns on write.
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("ts", StringType),                // ISO-8601 (writer.py:257)
    StructField("source", StringType),            // cdp|public_ws|replay|ui
    StructField("doc_type", StringType),          // partition key
    StructField("session_id", StringType),
    StructField("seq", LongType),                 // per-session monotonic
    StructField("direction", StringType),         // received|sent
    StructField("raw_json", StringType),          // full original payload
    StructField("game_id", StringType),
    StructField("player_id", StringType),
    StructField("username", StringType),
    StructField("event_name", StringType),
    StructField("price", StringType),             // decimal-as-string
    StructField("tick", LongType),
    StructField("action_type", StringType),
    StructField("cash", StringType),              // decimal-as-string
    StructField("position_qty", StringType),      // decimal-as-string
    StructField("button_id", StringType),
    StructField("button_category", StringType),
    StructField("sequence_id", StringType),
    StructField("sequence_position", LongType)))

  val docTypes: Seq[String] = Seq(
    "ws_event", "game_tick", "player_action", "button_event", "bbc_round",
    "candleflip_round", "short_position", "server_state", "system_event",
    "complete_game") // schema.py:15-27

  /** Nested `complete_game` document schema (schema.py:274-312, consumed at
    * export_for_julius.py:29-36 / data_service.py:141-204).
    */
  val completeGameSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("timestamp", LongType),           // unix ms
    StructField("gameVersion", StringType),
    StructField("rugged", BooleanType),
    StructField("peakMultiplier", DoubleType),
    StructField("prices", ArrayType(DoubleType)), // tick-by-tick series
    StructField("globalSidebets", ArrayType(StructType(Seq(
      StructField("playerId", StringType),
      StructField("username", StringType),
      StructField("betAmount", DoubleType),
      StructField("xPayout", IntegerType),
      StructField("startedAtTick", IntegerType),
      StructField("end", IntegerType),
      StructField("type", StringType))))),
    StructField("provablyFair", StructType(Seq(
      StructField("serverSeedHash", StringType))))))

  /** Write envelopes Hive-partitioned by (doc_type, date). The `date`
    * partition key is derived from `ts` exactly like `writer.py:127`
    * (strftime '%Y-%m-%d'). Spark's file-commit protocol replaces the
    * reference's temp-file + atomic-rename (`writer.py:219-232`).
    */
  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Append): Unit =
    df.withColumn("date", date_format(to_timestamp(col("ts")), "yyyy-MM-dd"))
      .write.mode(mode)
      .partitionBy("doc_type", "date")
      .parquet(path)

  /** Hive-partitioned scan with schema merge — the `hive_partitioning=true,
    * union_by_name=true` glob read (`query_session.py:49`). Filters on
    * doc_type/date prune partitions in Catalyst (S2/S3).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("basePath", path)
      .option("mergeSchema", "true")
      .parquet(path)

  /** Partition-pruned scan of one doc_type (S3): the reference restricts the
    * glob to `doc_type=<t>/` (`duckdb.py:67-68`) — here the SAME pruning is
    * done by Catalyst from the filter, visible as PartitionFilters in
    * `.explain`.
    */
  def readDocType(spark: SparkSession, path: String, docType: String): DataFrame =
    read(spark, path).filter(col("doc_type") === docType)

  /** File-level pruning by modification time (S4): the reference stats each
    * parquet file and reads only those modified since the session started
    * (`session_tracker.py:158-184`). Spark-native form: a predicate on the
    * hidden `_metadata.file_modification_time` column — evaluated during
    * file listing, so pruned files are never opened.
    */
  def readModifiedSince(spark: SparkSession, path: String,
      since: java.sql.Timestamp): DataFrame =
    read(spark, path)
      .withColumn("_mod_time", col("_metadata.file_modification_time"))
      .filter(col("_mod_time") >= lit(since))
      .drop("_mod_time")

  /** Storage stats (`data_service.py:60-86`): event/game counts + physical
    * size. The reference stats every file driver-side; Spark-native form is
    * the `_metadata` hidden columns aggregated per doc_type — distributed,
    * and file sizes come from the listing (no file opens).
    */
  def storageStats(spark: SparkSession, path: String): DataFrame =
    read(spark, path)
      .select(col("doc_type"),
        col("_metadata.file_path").as("_fp"),
        col("_metadata.file_size").as("_fs"))
      .groupBy("doc_type", "_fp")                 // one row per file first:
      .agg(count(lit(1)).as("n_rows"), first(col("_fs")).as("fs"))
      .groupBy("doc_type")
      .agg(
        sum("n_rows").as("n_events"),
        count(lit(1)).as("n_files"),
        round(sum(col("fs")) / (1024.0 * 1024.0), 3).as("storage_mb"))
      .orderBy("doc_type")

  /** Compact small files inside Hive partitions (the maintenance pass the
    * 5-second streaming trigger makes necessary: S5 lands a file per
    * micro-batch per partition, and a day of 5 s batches is ~17k files —
    * file-listing and task-scheduling overhead grows linearly with file
    * count while scan bytes don't). The reference rewrites its store in
    * one driver pass (`export_jsonl.py` round-trips; writer.py just
    * rotates); at 100 TB this is what a table format calls OPTIMIZE —
    * expressed here at the filesystem level:
    *
    *   1. partition stats come from the `_metadata` hidden columns — one
    *      distributed listing-only job, no file opens;
    *   2. only partitions that NEED work are touched (more than
    *      `maxFilesPerPartition` files, or average file under half
    *      `targetFileBytes`) — a closed date partition is compacted once
    *      and never rewritten again;
    *   3. each selected partition is rewritten to ceil(bytes/target)
    *      files and swapped in with two FileSystem renames (write to a
    *      DOT-PREFIXED sibling tmp dir → rename old aside, also
    *      dot-prefixed → rename tmp in → delete old). The work dirs start
    *      with '.' so Hive partition discovery never lists them —
    *      concurrent readers see either the old or the new partition
    *      contents, never both and never an unparseable partition value.
    *      Readers between the two renames can see the partition briefly
    *      missing — this is a single-writer maintenance op, same
    *      assumption the reference's exporters make. A crash between the
    *      renames strands the data in `.compact_old_*`; every compact()
    *      run begins with a recovery sweep that renames strays back (or
    *      deletes them when the publish already happened) and clears
    *      leftover tmp dirs, so the store self-heals on the next pass.
    *
    * The rewrite read uses mergeSchema: the store's own read() merges
    * footers (union_by_name), so one partition may legitimately hold
    * files with different column sets — sampling a single footer would
    * silently drop the missing columns from every rewritten row.
    *
    * Returns (doc_type, date, files_before, files_after) per compacted
    * partition. The driver loop is over the PARTITION LIST (metadata
    * scale); each rewrite is a distributed job.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      maxFilesPerPartition: Int = 8): Seq[(String, String, Long, Int)] = {
    val perFile = read(spark, path)
      .select(col("doc_type"), col("date").cast("string").as("date"),
        col("_metadata.file_path").as("fp"),
        col("_metadata.file_size").as("fs"))
      .groupBy("doc_type", "date", "fp")
      .agg(first(col("fs")).as("fs"))
    val parts = perFile.groupBy("doc_type", "date")
      .agg(count(lit(1)).as("n_files"), sum("fs").as("bytes"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val rootFs = root.getFileSystem(hadoopConf)
    val docTypeDirs =
      if (!rootFs.exists(root)) Seq.empty
      else rootFs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
    Compaction.recover(docTypeDirs, hadoopConf)
    parts.toSeq
      .filter { case (_, _, n, bytes) =>
        Compaction.needsWork(n, bytes, targetFileBytes, maxFilesPerPartition)
      }
      .map { case (dt, date, n, bytes) =>
        val dir = new org.apache.hadoop.fs.Path(
          s"$path/doc_type=$dt/date=$date")
        (dt, date, n, Compaction.swapRewrite(spark, dir, bytes, targetFileBytes))
      }
  }

  /** Parse the nested complete_game documents out of raw_json (F3). */
  def completeGames(envelopes: DataFrame): DataFrame =
    envelopes
      .filter(col("doc_type") === "complete_game")
      .withColumn("game", from_json(col("raw_json"), completeGameSchema))

  /** JSONL export (S7): per-doc_type line JSON ordered by ts, NULLs dropped
    * by the JSON writer (`export_jsonl.py:19-92`).
    */
  def exportJsonl(df: DataFrame, outPath: String): Unit =
    df.orderBy("ts").write.mode(SaveMode.Overwrite)
      .option("ignoreNullFields", "true")
      .partitionBy("doc_type")
      .json(outPath)

  /** CSV export (S8): flattened summary tables (`export_for_julius.py:27-110`). */
  def exportCsv(df: DataFrame, outPath: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(outPath)
}
