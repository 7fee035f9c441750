package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided TESTDATA tables (see TESTDATA.md).
  *
  * Mirrors the reference's storage model — all analytics run over Parquet
  * files scanned on demand (reference: `src/services/event_store/duckdb.py:57-69`
  * builds a glob per query; Spark equivalent is a parquet scan whose
  * filters/projections Catalyst pushes into the reader).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, dir, table) memo of the analyzed scan DataFrame. A
    * `spark.read.parquet` re-lists the directory and re-reads a footer for
    * schema inference on EVERY call — pure driver-side latency repeated by
    * each of the ~50 registered queries over the same ten tables. A
    * DataFrame is an immutable plan, so reuse within a session is safe
    * (the memo also pins the file listing: files added to a dir
    * mid-session are invisible until a new session). Stopped sessions are
    * purged on the next load — a weak key alone would never collect,
    * because the cached DataFrame strongly references its session. On a
    * real warehouse the catalog's table metadata plays this role.
    */
  private val scanCache =
    new java.util.HashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String), DataFrame]]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    scanCache.synchronized {
      scanCache.entrySet.removeIf(_.getKey.sparkContext.isStopped)
      scanCache.computeIfAbsent(spark,
          _ => scala.collection.concurrent.TrieMap.empty)
        .getOrElseUpdate((sfDir, name),
          spark.read.parquet(s"$sfDir/$name.parquet"))
    }

  /** Drop the memoized scans under `sfDir` (all tables, every session) so
    * the next [[load]] re-lists the directory — the refresh hook a
    * LONG-LIVED service session needs after new files land in a directory
    * it has already read (the memo pins the file listing at first read;
    * single-session batch jobs never notice, a resident service would
    * otherwise never see post-first-read arrivals). The warehouse analog is
    * `REFRESH TABLE`.
    */
  def invalidate(sfDir: String): Unit = scanCache.synchronized {
    scanCache.values.forEach(_.filterInPlace { case ((d, _), _) => d != sfDir })
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` may be physically TIMESTAMP(NANOS) parquet, which Spark's
    * vectorized reader rejects. `GraftSession.builder` sets
    * `spark.sql.legacy.parquet.nanosAsLong`, so it reads as raw nanos;
    * convert to a µs TimestampType with integer division — lossless for
    * this data (sub-µs components are zero) and identical to DuckDB's
    * TIMESTAMP_NS → TIMESTAMP cast.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    // normalize ts to TimestampType whatever the writer produced:
    //  - the raw TIMESTAMP(NANOS) physical type arrives as long (builder conf);
    //  - a copy rewritten by DuckDB/pandas arrives as µs TIMESTAMP with
    //    isAdjustedToUTC=0 = TimestampNTZ, which time functions like
    //    unix_micros reject — value-preserving cast under the UTC session;
    //  - a Spark-written copy is already TimestampType.
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  // r17 measured-and-DISCARDED: a scale-adaptive "fanOut" (repartition
  // right after the read when the scan yields fewer partitions than
  // cores — guide §2.5's unsplittable-input remedy; the committed test
  // tables are single-row-group parquet, so every scan is ONE task).
  // Measured slower on BOTH candidate classes: the 2k-row embedding
  // relations (32 post-shuffle tasks cost more than ~1 ms of single-task
  // compute; q69/q74/q90 walls +0.4-1.0 s, fit cpu 0.6 -> 17-28 s) and
  // the 600k-row lineitem aggregates (keyless repartition pays a local
  // sort of the input — SPARK-23207 sortBeforeRepartition — plus the
  // 11 MB shuffle; q01 0.74 -> 1.14 s, q05 0.80 -> 1.27 s, 5-rep mins).
  // Single-row-group inputs serialize scan-side work and no exchange
  // buys it back at this data size; at real scale inputs are split and
  // the problem does not exist.

  /** Table row count from parquet footer metadata — a driver-side footer
    * read, NOT a Spark job. Adaptive operators (e.g. q51's LSH band width)
    * need N before planning; running `df.count()` for it costs a full scan
    * action per invocation, while every footer already records its row
    * count. On a real warehouse this is the catalog's rowCount statistic.
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(s"$sfDir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val files =
      if (status.isDirectory)
        fs.listStatus(root).filter { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.toSeq
      else Seq(status)
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}
