package graft

import org.apache.spark.sql.SparkSession

/** Canonical session builder for the library: UTC (oracle parity), AQE with
  * skew handling, right-sized shuffle partitions, and the graft native
  * functions registered via GraftExtensions.
  *
  * `shufflePartitions` should track executor-core count locally; on a real
  * cluster size it so a post-shuffle partition of the largest stage fits in
  * executor memory (AQE coalescing then trims the small stages).
  *
  * Measured and DISCARDED (round 11): raising
  * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` to
  * 16× cores so big stages keep finer grain while AQE coalesces small
  * ones. Motivation was q52's per-row CPU climbing 1.5→2.2 µs across the
  * 30×→100× octave (100× the rows into the same 32 window sorts); the
  * serialized A/B at 100× showed the win is confined to that shape
  * (q52 wall 1.61→1.41 s) while every chained-shuffle plan pays the
  * 512-way map-side fan-out repeatedly — q63 task CPU 296→720 s, q04
  * 87→195 s. On a real cluster the knob to move is `shufflePartitions`
  * itself, sized so the largest stage's post-shuffle partition fits in
  * executor memory — which this builder already parameterizes.
  *
  * Codegen cache: `spark.sql.codegen.cache.maxEntries` is 4096, not
  * Spark's default 100. A mixed workload (the 92-query sweep, or
  * `sweep_sf01`'s 7 queries plus the MC report in seeded order) keeps more
  * classes live than 100 entries hold, so the LRU evicts each class before
  * its next use and every warm pass recompiles: 1,514–1,522 Janino
  * compiles (11–13 s) per warm pass of the 92 queries on 4 cores. One
  * full pass compiles 1,100–1,530 classes, and the cache key is
  * (classloader, code): in local mode a class can be cached once for the
  * driver's loader and once for the executor's, so 4096 holds a full pass
  * twice over. Measured on a 4-core host: four passes of the 92 queries
  * in one JVM compiled 1,098 classes, then 0, 0 and 18; `sweep_sf01`'s
  * median pass went from 5.66 to 4.57 s over 22 alternating pairs, and
  * three traced runs per side put the saving in the driver's process CPU
  * (14.0/17.7/19.1 → 9.6/10.1/14.5 s) with job, stage and task counts
  * unchanged.
  *
  * CAVEAT: this is a STATIC conf behind a JVM-global cache. Catalyst's
  * `CodeGenerator` object reads it once, when it initializes, so it takes
  * effect only if the JVM's first session comes from this builder; a
  * session built elsewhere first fixes the cache at that session's size
  * for the life of the JVM.
  *
  * One class loader for every session: `spark.sql.artifact.isolation.enabled`
  * is false. `CodeGenerator.compile` keys its cache on (the thread's context
  * class loader, the code). With isolation on (Spark's default) every
  * session has its own artifact state under its own UUID, the executor keeps
  * one class loader per session UUID, and task threads run under it. Spark
  * clones the session for every streaming query start, and a clone has a
  * new UUID, so each start recompiled every class its tasks compile, even
  * ones the JVM had compiled a moment before (and each Janino name lookup
  * went through the new loader's `findClass`). With it off, every session
  * and clone shares the executor's default loader. One `store_rw` run
  * (4 cores, `--seconds 45`) compiled 447 classes at the parent and 139
  * with this conf: every timed pass of the parent recompiled the same 24
  * classes in its restart and 7 in its dedup; with the conf the restart
  * compiles one class (a new watermark literal) and then none, and the
  * dedup none. Over 20 alternating pairs of `store_rw --seconds 25`,
  * `setup_s` fell from 0.69 to 0.50 s (median; the change won 18) and
  * `pass_s` from 13.19 to 11.95 s (won 15; host load and the number of
  * timed passes that fit in the run dominate its spread); per-pass process
  * CPU fell 16 % in two traced runs per side. `SessionCodegenSpec` pins
  * it: a query on a new session, a second ingest/stop/restart and a second
  * dedup compile no class (5, 49 and 7 without the conf).
  *
  * CAVEAT: the conf is read when a session's artifact state is created, so
  * a session built without this builder keeps isolation (and its clones
  * their own loaders). And with isolation off, an artifact added with
  * `addArtifact` (a jar, a class file) would be visible to every session
  * of the JVM; the engine adds none.
  *
  * Local file system: `file:` paths go through `store.NioLocalFileSystem`
  * (`fs.file.impl`) and `store.NioLocalFs` (`fs.AbstractFileSystem.file.impl`,
  * what `FileContext` and the streaming checkpoint use). Unset, `file:`
  * resolves to Hive's `ProxyLocalFileSystem` (registered by the Hive jars'
  * service file), a pass-through over Hadoop's `LocalFileSystem`. Without
  * `libhadoop`, Hadoop's local file system forks a `chmod` for every file it
  * creates and four `readlink`s for every `FileContext` rename; the
  * replacements do both with `java.nio.file` (`store/LocalFs.scala`). JFR on
  * one `store_rw` run (4 cores) counted 1,864 process starts, 1,296
  * `readlink` and 552 `chmod`, against 16 with these classes; the
  * checkpoint's WAL commit time fell ≈12×, and `store_rw`'s median pass
  * (with `Ingest`'s one file per partition) went from 5.42 to 3.73 s over 12
  * alternating pairs. `FileSystemBasedCheckpointFileManager` is not the
  * fix: it drops only the `readlink`s, keeps every `chmod`, and weakens
  * the checkpoint's no-overwrite rename.
  *
  * CAVEAT: Hadoop's `FileSystem` cache is JVM-global and keyed by scheme
  * and user, not by conf, so a `file:` FileSystem created before this
  * builder's session (from a bare `Configuration`) keeps the default class
  * for the life of the JVM. `FileContext` is not cached and always takes
  * the conf's class.
  */
object GraftSession {

  /** Scan-split sizing is a PER-DEPLOYMENT knob, not a constant: a real
    * cluster reading 100 TB wants the Spark defaults (128 MB
    * maxPartitionBytes / 4 MB openCost) or larger, while local[32] over
    * MB-scale test tables wants small splits — the defaults put a whole
    * ~10 MB single-file table into ONE scan task, so every scan-stage
    * computation (decimal sums, percentile state, shingling) runs
    * single-threaded while a vectorized in-process engine parallelizes
    * row groups across all cores (measured r13: q01's decimal aggregate
    * 1.34 s on one core vs ~0.2 s split). Defaults here are the
    * local-bench values; a deployment overrides them with
    * SPARK_GRAFT_MAX_PARTITION_BYTES / SPARK_GRAFT_OPEN_COST_BYTES
    * (a cluster sets 128-256 MB / 4 MB). AQE coalescing absorbs extra
    * splits on the shuffle side either way.
    */
  val LocalBenchMaxPartitionBytes: Long = 4L * 1024 * 1024
  val LocalBenchOpenCostInBytes: Long = 512L * 1024

  private def envBytes(name: String, dflt: Long): Long =
    sys.env.get(name).map(_.trim.toLong).getOrElse(dflt)

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Measured and DISCARDED (r17): coalescePartitions.parallelismFirst
      // = false (respect the advisory size; the setting Spark's docs
      // recommend and guide 2.2's fewer-larger-partitions direction).
      // Net +1.3 s on the 15 heaviest queries at sf0.1/32 (q50 0.61 ->
      // 1.21, q55 0.79 -> 1.21, q43 0.67 -> 1.07 regressed; q74/q73/q05
      // improved ~0.1 each): with MB-scale shuffles everything coalesces
      // to ONE partition, serializing window/join stages that the
      // parallelism floor kept spread. On a cluster whose shuffles
      // exceed the 64 MB advisory size the flag is moot by construction.
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.files.maxPartitionBytes",
        envBytes("SPARK_GRAFT_MAX_PARTITION_BYTES", LocalBenchMaxPartitionBytes))
      .config("spark.sql.files.openCostInBytes",
        envBytes("SPARK_GRAFT_OPEN_COST_BYTES", LocalBenchOpenCostInBytes))
      // static, read once per JVM: see the scaladoc's codegen-cache caveat
      .config("spark.sql.codegen.cache.maxEntries", 4096)
      // one executor class loader for every session and clone, so a class
      // compiles once per JVM, not once per streaming start (scaladoc)
      .config("spark.sql.artifact.isolation.enabled", "false")
      // TIMESTAMP(NANOS) parquet columns read as raw nanos (Tables.events
      // converts them); set here so no query path mutates the session
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local file: I/O without a forked chmod/readlink per file (scaladoc)
      .config("spark.hadoop.fs.file.impl", classOf[store.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[store.NioLocalFs].getName)
      .withExtensions(new functions.GraftExtensions)
}
