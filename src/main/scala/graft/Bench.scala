package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with per-query steady-state seconds.
  *
  * A warm-up pass (untimed) touches every table and runs one trivial job so
  * the timed numbers measure query execution, not first-job JVM costs
  * (executor thread init, parquet footer reads). Each query then runs once
  * untimed before its timed runs: the first execution of a plan pays one-time
  * driver costs that are per-QUERY-SHAPE, not per-execution — Janino
  * whole-stage-codegen compilation and JIT warm-up. A long-lived session
  * amortizes compilation to zero only while its live class set fits the
  * JVM-wide codegen cache (`GraftSession`'s 4096 entries; Spark's default
  * 100 evicts a mixed workload's classes before their next use, and every
  * pass recompiles). Each timed rep records its own `compiles` and
  * `compile_ms`, so a rep that still compiles shows in the detail file. The
  * timed number is the steady-state execution cost, the quantity that
  * actually scales with data volume.
  *
  * Self-validation (the round-6 lesson: a degraded sandbox produced a bench
  * artifact indistinguishable from a 10-100x code regression):
  *
  *   - A machine-health CANARY runs before and after the query sweep: a
  *     fixed CPU job (range-sum) and a fixed I/O+codegen job (full lineitem
  *     scan-and-sum), each median-of-3, compared against committed reference
  *     values measured on a healthy machine. `canary.health` > ~2 means the
  *     MACHINE is slow and the per-query numbers must not be read as code
  *     regressions.
  *   - Each query runs SPARK_GRAFT_BENCH_REPS (default 3) timed reps; `sec`
  *     is the MINIMUM of the reps (r15 — the contract line says
  *     `"statistic":"min_of_reps"`; median-of-3 through r14 let one
  *     kernel-time storm rep inflate the headline 58%). Per-query
  *     {sec, rows, err, reps} plus per-rep layer arrays land in `detail` —
  *     a query that throws records its error and
  *     sec=-1 instead of silently timing a broken second run. The layer
  *     arrays come from one `CpuTally` listener: `cpu_reps` (summed
  *     executor-task CPU seconds, the noise-immune companion to wall-clock
  *     for growth exponents on a shared host), `jobs`/`stages`/`tasks`
  *     (the driver's scheduling floor), `scan_mb`/`scan_records`,
  *     `shuf_mb`/`shuf_records`, `spill_mb`, and `compiles`/`compile_ms`
  *     (the generated classes Janino compiled, whole-stage and
  *     expression alike, on driver and executor threads, and the time it
  *     took; `warm_compiles`/`warm_compile_ms` hold the untimed warm-up's).
  *     `detail` is written ONLY to `BENCH_detail.json`
  *     (override: SPARK_GRAFT_DETAIL_OUT) — never to the stdout contract
  *     line, which must stay small enough for the driver's parser.
  *   - `subtotals` separates the idiomatic board from the hash family
  *     (q42/q43/q44/q48/q63/q77), whose DuckDB oracles execute our generated
  *     hash chain and therefore do not measure a comparable engine
  *     (SCALING.md "honest caveat"), machine-readably.
  *
  * The top-level contract is unchanged: one JSON line with
  * `{"metric","value","unit","queries":{name:sec},"sf"}`; the new fields are
  * additive.
  */
object Bench {

  /** Reference canary seconds, measured median-of-3 on a healthy build
    * machine (local[32], sf0.1, 2026-08-13). If today's canary is >2x these,
    * the machine — not the code — is degraded.
    */
  val CanaryRefCpuSec = 0.22
  val CanaryRefScanSec = 0.30

  /** Queries whose DuckDB oracle executes our generated hash64 chain (23-28 s
    * each at sf0.1) rather than a native DuckDB plan; excluded from
    * engine-vs-engine ratios per SCALING.md.
    */
  val HashFamily: Set[String] = Set(
    "q42_minhash_signatures", "q43_minhash_lsh_pairs", "q44_simhash",
    "q48_winnowing_fingerprints", "q63_simhash_pairs",
    "q77_simhash_pairs_blocked")

  /** Per-query seconds on the STDOUT contract line are limited to this
    * headline subset: the driver archives only a 2000-char stdout tail and
    * its parser has rejected every line shape tried through r13 (full map
    * r11/r12, 12-query map r13 — "parsed": null all three rounds even with
    * the line complete in the tail). r14 shrinks the contract line under
    * 512 bytes (judge bar), prints it BOTH immediately after the sweep and
    * as the very last stdout line, and — the structural suspect — build.sbt
    * now sets `run / outputStrategy := StdoutOutput` so the line arrives
    * raw instead of behind sbt's "[info] " logger prefix, which no bare
    * `json.loads(line)` survives. The full board lives in
    * BENCH_detail.json, which the driver commits alongside.
    */
  val Headline: Seq[String] = Seq(
    "q01_group_agg", "q43_minhash_lsh_pairs", "q85_heavy_hitters")

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** CPU canary: fixed-size range aggregation — no I/O, pure codegen+CPU. */
  def canaryCpu(spark: SparkSession): Double =
    median((1 to 3).map(_ => time {
      spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
    }))

  /** I/O canary: full uncached scan-and-sum of a FIXED fact table — the
    * committed sf0.1 lineitem when present, else the bench SF's (then the
    * reference value no longer applies and health reads from the CPU
    * canary alone). Fixed input matters: the canary measures the MACHINE,
    * so its workload must not scale with the SF under test. `parquet(...)`
    * is called fresh each rep so every rep re-reads bytes through the OS
    * cache; this tracks I/O+decode health.
    */
  val CanaryScanTable = "/root/testdata/sf0.1/lineitem.parquet"

  /** True when the committed fixed-input canary table exists — only then is
    * `CanaryRefScanSec` comparable to today's scan canary. On the fallback
    * (bench SF's own lineitem) the canary workload scales with the SF under
    * test, so health must read from the CPU canary alone.
    */
  def canaryScanIsFixed: Boolean = new java.io.File(CanaryScanTable).exists

  def canaryScan(spark: SparkSession, sfDir: String): Double = {
    val path =
      if (canaryScanIsFixed) CanaryScanTable
      else s"$sfDir/lineitem.parquet"
    median((1 to 3).map(_ => time {
      spark.read.parquet(path)
        .selectExpr("sum(l_extendedprice)", "sum(l_quantity)", "count(*)")
        .collect()
    }))
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** One rep's Spark work as [[CpuTally]] counts it: the deltas of its
    * running totals across the rep.
    */
  final case class Layers(jobs: Long, stages: Long, tasks: Long,
      cpuNs: Long, scanBytes: Long, scanRecords: Long,
      shufBytes: Long, shufRecords: Long, spillBytes: Long,
      compiles: Long, compileNs: Long) {
    def -(o: Layers): Layers = Layers(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, cpuNs - o.cpuNs, scanBytes - o.scanBytes,
      scanRecords - o.scanRecords, shufBytes - o.shufBytes,
      shufRecords - o.shufRecords, spillBytes - o.spillBytes,
      compiles - o.compiles, compileNs - o.compileNs)
  }

  /** `warm` is the untimed warm-up's layers: where a query shape pays its
    * codegen compiles in a long-lived session.
    */
  final case class QResult(name: String, sec: Double, rows: Long,
      err: Option[String], reps: Seq[Double], layers: Seq[Layers] = Nil,
      warm: Option[Layers] = None) {
    def cpuReps: Seq[Double] = layers.map(_.cpuNs / 1e9)
  }

  /** The bench's one listener: running totals of the jobs, stages and
    * tasks Spark ran and of what the tasks did — executor CPU, scan input,
    * shuffle write and spill. Wall-clock on a shared host is hostage to
    * the neighbors (the 100× probe watched identical reps span 3.3–70 s
    * while the canary swung 0.67–2.64 between runs); task CPU time is not
    * charged hypervisor steal or another tenant's load, so growth
    * exponents derived from `cpu_reps` survive a noisy box that makes
    * `reps` unreadable. Job/stage/task counts show the per-job driver
    * floor that dominates small-SF walls, and scan/shuffle/spill bytes
    * show the plan shape, in every sweep cell instead of a separate run.
    * Codegen compiles are not listener events: the snapshot reads Spark's
    * JVM-wide counters (`CodegenMetrics`' compile count, `CodeGenerator`'s
    * compile nanos), so any session in the JVM adds to them.
    */
  final class CpuTally extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler._
    private val jobs, stages, tasks, cpuNs, scanBytes, scanRecords,
      shufBytes, shufRecords, spillBytes = new AtomicLong(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = te.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        scanBytes.addAndGet(m.inputMetrics.bytesRead)
        scanRecords.addAndGet(m.inputMetrics.recordsRead)
        shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
    private def snapshot(): Layers = Layers(jobs.get(), stages.get(),
      tasks.get(), cpuNs.get(), scanBytes.get(), scanRecords.get(),
      shufBytes.get(), shufRecords.get(), spillBytes.get(),
      compileCount(), compileNanos())
    /** Listener events arrive on a bus AFTER the action returns; the public
      * API has no drain hook, so poll until the totals stop moving. A
      * single 10 ms quiet gap is too easy a bar on a contended host — a
      * straggler task-end landing 11 ms after its predecessor would leak
      * that task's counts into the NEXT rep's baseline — so "settled"
      * requires 3 consecutive stable polls (30 ms of silence; 2 s cap).
      * Attribution grain stays listener events: an event the bus DROPS
      * under extreme load is lost to the tally entirely, which is why
      * cpu_reps is read as min-of-reps, not a sum.
      */
    def settled(): Layers = {
      var cur = snapshot()
      var stable = 0
      var spins = 0
      while (stable < 3 && spins < 200) {
        Thread.sleep(10); val next = snapshot(); spins += 1
        if (next == cur) stable += 1 else stable = 0
        cur = next
      }
      cur
    }
  }

  /** Classes Janino has compiled in this JVM (`CodegenMetrics`), and the
    * nanos it took (`CodeGenerator.compileTime`): every session's compiles,
    * on driver and executor threads alike.
    */
  private def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileNanos(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Streaming throughput probe (round-7 verdict item #5): end-to-end
    * sustained events/s through the LIVE pipeline, measured, not claimed.
    *
    *   - ingest: MemoryStream[RawEvent] spool → Normalizer
    *     (flatMapGroupsWithState seq/phase machine) → doc_type classify →
    *     Hive-partitioned parquet sink with checkpoint, one AvailableNow
    *     drain — the exact `Ingest.start` path, including sink commit and
    *     state-store costs. The sink count is VERIFIED against n (the
    *     Normalizer is 1-in-1-out) and emitted as `ingest_rows_ok` — a
    *     dropped event would otherwise fake throughput.
    *   - restart: the same pipeline killed mid-stream (query stopped once
    *     ~half the input is processed) and restarted from its checkpoint;
    *     `restart_recovery_sec` is the drain time of the second run and
    *     `exactly_once` asserts the sink holds exactly n rows — no replay
    *     of committed batches, no loss of the in-flight one.
    *   - dedup: 10× game-history re-emissions through
    *     `dedupGameHistory` (watermark + dropDuplicatesWithinWatermark)
    *     into a memory sink; unique count verified.
    *
    * Each leg also reports the classes Janino compiled while it ran and
    * the time it took (`ingest_compiles`/`ingest_compile_ms`, `restart_*`
    * over the killed run and its restart, `dedup_*`), from the JVM-wide
    * counters [[CpuTally]] reads. Every leg starts new streaming queries,
    * each on a new clone of the session: the cold ingest pays the
    * pipeline's compiles, and a warm leg that still compiles shows apart.
    *
    * The reference's live envelope is ~4 events/s (BASELINE.md tick rate);
    * the emitted `ref_live_rate_eps` field makes the margin machine-readable.
    * Event volume is env-tunable (SPARK_GRAFT_STREAM_EVENTS, default 200k —
    * ~100 games' worth of ticks at 5/s).
    */
  def streamingBench(spark: SparkSession): String = {
    import spark.implicits._
    import graft.streaming.{Ingest, RawEvent}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "200000").toInt
    if (n <= 0) return """{"skipped":true}""" // growth probes time batch only
    val sessions = 64
    val base = 1700000000000L
    def tmp(p: String) = store.LocalFs.scratchDir(p).toString
    def r1(x: Double): Double = math.round(x * 10.0) / 10.0
    // a leg's compiles: the JVM-wide counters' deltas since `from`
    def counters(): (Long, Long) = (compileCount(), compileNanos())
    def compiled(leg: String, from: (Long, Long)): String =
      s""""${leg}_compiles":${compileCount() - from._1},""" +
        s""""${leg}_compile_ms":${r1((compileNanos() - from._2) / 1e6)},"""

    val events = (0 until n).map { i =>
      val sess = s"s${i % sessions}"
      val game = Some(s"g${i / 500}") // a new game every 500 events
      val ts = new java.sql.Timestamp(base + i.toLong * 5)
      i % 500 match {
        case 0 => RawEvent(sess, ts, "game.presale", game, None, None,
          s"""{"type":"newGame","gameId":"${game.get}"}""")
        case m if m % 25 == 1 => RawEvent(sess, ts, "player.buy", game,
          None, Some(1.0 + (i % 97) / 100.0),
          s"""{"type":"playerAction","action":"buy","amount":${i % 97}}""")
        case m => RawEvent(sess, ts, "game.tick", None, Some(m),
          Some(1.0 + m / 100.0),
          s"""{"type":"gameStateUpdate","tickCount":$m,"price":${1.0 + m / 100.0}}""")
      }
    }
    val ingestIn = MemoryStream[RawEvent]
    events.grouped(20000).foreach(b => ingestIn.addData(b: _*))
    val out = tmp("graft-bench-ingest-out")
    val ingestFrom = counters()
    val ingestSec = time {
      Ingest.start(ingestIn.toDS(), out, tmp("graft-bench-ingest-ckpt"),
        Trigger.AvailableNow()).awaitTermination()
    }
    val ingestCompiled = compiled("ingest", ingestFrom)
    // the Normalizer emits exactly ONE row per raw event, so the sink must
    // hold n rows — a state-machine regression that dropped events would
    // otherwise silently inflate events/s (r10 ADVICE: the count used to
    // be reported, not verified)
    val written = spark.read.parquet(out).count()
    val rowsOk = written == n.toLong

    // kill-and-restart leg: same pipeline on fresh dirs, fed LIVE in
    // blocks under a short ProcessingTime trigger (AvailableNow over a
    // pre-filled MemoryStream drains in one batch — nothing left to
    // kill), query STOPPED once ~half the input is committed, then
    // restarted from the checkpoint and drained. The sink-commit log
    // must make the rerun exactly-once (n rows total: no replay of
    // committed batches, no loss of the in-flight one);
    // restart_recovery_sec is the restart-to-drained time.
    val rIn = MemoryStream[RawEvent]
    val rOut = tmp("graft-bench-restart-out")
    val rCkpt = tmp("graft-bench-restart-ckpt")
    val blockSz = 20000
    val blocks = events.grouped(blockSz).toSeq
    rIn.addData(blocks.head: _*)
    val restartFrom = counters() // the killed run and its restart
    val q1 = Ingest.start(rIn.toDS(), rOut, rCkpt,
      Trigger.ProcessingTime("100 milliseconds"))
    def processed(): Long = q1.recentProgress.map(_.numInputRows).sum
    val feeder = blocks.tail.iterator
    var added = blockSz.toLong
    // feed at most one unprocessed block ahead: MemoryStream has no
    // maxOffsetsPerTrigger, so dumping everything up front lets batch 2
    // swallow the whole remainder and the "kill" lands after the last
    // commit (observed: killed_after == n, recovery 0.1 s — a no-op test)
    while (q1.isActive && processed() < n / 2) {
      if (feeder.hasNext && processed() >= added - blockSz) {
        rIn.addData(feeder.next(): _*); added += blockSz
      }
      Thread.sleep(5)
    }
    q1.stop()
    q1.awaitTermination()
    val killedAfter = processed()
    feeder.foreach(b => rIn.addData(b: _*)) // the rest arrives before restart
    val recoverySec = time {
      Ingest.start(rIn.toDS(), rOut, rCkpt, Trigger.AvailableNow())
        .awaitTermination()
    }
    val restartCompiled = compiled("restart", restartFrom)
    val rWritten = spark.read.parquet(rOut).count()
    val exactlyOnce = rWritten == n.toLong

    val games = (0 until n).map { i => // each game re-emitted 10×
      (s"g${i / 10}", new java.sql.Timestamp(base + i.toLong * 5))
    }
    val dedupIn = MemoryStream[(String, java.sql.Timestamp)]
    games.grouped(20000).foreach(b => dedupIn.addData(b: _*))
    val dedupFrom = counters()
    val dedupSec = time {
      Ingest.dedupGameHistory(dedupIn.toDF().toDF("game_id", "ts"))
        .writeStream.format("memory").queryName("bench_dedup")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    val dedupCompiled = compiled("dedup", dedupFrom)
    val unique = spark.table("bench_dedup").count()

    s"""{"ingest_events":$n,"ingest_sec":${r1(ingestSec)},""" +
      s""""ingest_events_per_sec":${r1(n / ingestSec)},""" + ingestCompiled +
      s""""ingest_rows_written":$written,"ingest_rows_ok":$rowsOk,""" +
      s""""restart_killed_after_rows":$killedAfter,""" +
      s""""restart_recovery_sec":${r1(recoverySec)},""" + restartCompiled +
      s""""restart_rows_written":$rWritten,"exactly_once":$exactlyOnce,""" +
      s""""dedup_events":$n,"dedup_sec":${r1(dedupSec)},""" +
      s""""dedup_events_per_sec":${r1(n / dedupSec)},""" + dedupCompiled +
      s""""dedup_unique":$unique,"ref_live_rate_eps":4}"""
  }

  /** Monte Carlo at the reference's COMPARISON scale (round-7 verdict #8):
    * 100k iterations × 500 games/iteration — `monte_carlo_comparison.py:39`'s
    * config, 10× its interactive default — through `MonteCarlo.simulate`
    * plus the full A17 `riskReport` aggregate (percentiles, ruin, VaR/CVaR,
    * ratio means). Deterministic per-iteration seeds, so reps are
    * identical work. SPARK_GRAFT_MC_ITERS tunes volume; 0 skips.
    */
  def mcBench(spark: SparkSession): String = {
    val iters = sys.env.getOrElse("SPARK_GRAFT_MC_ITERS", "100000").toInt
    if (iters <= 0) return """{"skipped":true}"""
    val cfg = sim.MonteCarlo.SimConfig(
      iterations = iters, gamesPerIteration = 500)
    val sec = (1 to 3).map(_ => time {
      sim.MonteCarlo.riskReport(sim.MonteCarlo.simulate(spark, cfg)).collect()
    }).min // min-of-reps, same storm rationale as the sweep
    def r1(x: Double): Double = math.round(x * 10.0) / 10.0
    s"""{"iterations":$iters,"games_per_iteration":500,"sec":${r1(sec)},""" +
      s""""iterations_per_sec":${r1(iters / sec)}}"""
  }

  /** Full-materialization sink for timed reps. Timing `.count()` (rounds
    * 1-12) let Catalyst PRUNE whatever the count doesn't need — q58's
    * entire semi join vanished under count (0.37 s "steady state" vs 34 s
    * materialized at 10×, caught round 13 chasing a bogus q86-vs-q58 gap),
    * and every projection-heavy text query was silently timed as a bare
    * scan-count. The noop v2 sink evaluates every output row and column
    * (what a pipeline consumer pays, and what DuckDB's fetchall oracle leg
    * pays) and writes nothing. Round-13 BENCH numbers are therefore NOT
    * comparable to r12-and-earlier per-query history; the artifact carries
    * `"materialize":"noop"` to mark the protocol.
    */
  def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def runQuery(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      tally: Option[CpuTally] = None): QResult = {
    // warm run: captures rows and any error; a broken query is never timed.
    // The count plan differs from the noop plan (pruning), so the noop
    // shape gets its own untimed warm-up before the reps.
    val warmStart = tally.map(_.settled())
    val warm =
      try {
        val rows = fn(spark, sfDir).count()
        materialize(fn(spark, sfDir))
        Right(rows)
      }
      catch { case t: Throwable =>
        Left(s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(200)}")
      }
    warm match {
      case Left(err) => QResult(name, -1.0, -1L, Some(err), Nil)
      case Right(rows) =>
        // SPARK_GRAFT_BENCH_REPS trims timed reps for the replica-ladder
        // boards (100× × 89 queries × 3 reps is hours of wall; 2 reps
        // with min-of-reps reading keeps the board inside a round)
        val nReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
        val warmLayers = tally.map(_.settled() - warmStart.get)
        val timed = (1 to nReps).map { _ =>
          val before = tally.map(_.settled())
          val wall = time { materialize(fn(spark, sfDir)) }
          (wall, tally.map(_.settled() - before.get))
        }
        val reps = timed.map(_._1)
        // Shuffle files of finished jobs are only deleted when
        // ContextCleaner sees their ShuffleDependency get GC'd — and with
        // a large sweep heap (the 100× board runs at -Xmx100g) a full GC
        // may never happen on its own, so dead shuffle data accumulates in
        // the local dirs for the whole sweep. Measured on the r12 100×
        // board: 74 queries × 3 reps filled the disk's 78 GB of headroom
        // and failed the LAST two queries with "No space left on device" /
        // task OOM, while the same queries pass in a fresh JVM. One
        // explicit GC per query (outside `time{}` — never inside a rep)
        // keeps the sweep's footprint at one query's working set.
        System.gc()
        // min-of-reps, not median: this box's episodic kernel-time storms
        // (SCALING.md round-14) inflate individual reps 3-30×, and r14's
        // median-of-3 headline read 66.4 s where the same binaries measured
        // 42.1 s minutes apart. The minimum of deterministic reps is the
        // run least contaminated by the hypervisor neighbor — the statistic
        // every other r14 artifact (enginecmp, 100× board) already uses.
        QResult(name, reps.min, rows, None, reps, timed.flatMap(_._2),
          warmLayers)
    }
  }

  /** Install a REAL (non-default) log4j2 configuration at ERROR before any
    * SparkContext exists (r17, the last piece of the clean-tail saga): the
    * r16 fix set the level AFTER construction via setLogLevel, but (a) a
    * context logs its constructor chatter (BlockManager registration et
    * al.) before that call can run, and (b) SparkContext.stop() restores
    * log4j2 to its DEFAULT configuration, so every session RESTART — the
    * sweep slices and the sentinel recheck, whose restart lands right
    * before the final contract line, inside the 2000-char tail the driver
    * archives — re-sprayed INFO lines. Spark only overwrites log4j2 state
    * it detects as the DEFAULT configuration; reconfiguring from an
    * explicit properties file makes the config non-default, so it
    * survives both context construction and stop() across the whole run.
    */
  private def quietRootLogger(): Unit =
    try {
      val props = store.LocalFs.scratchDir("graft-bench-log4j2").resolve("log4j2.properties")
      java.nio.file.Files.write(props,
        """rootLogger.level = error
          |appender.console.type = Console
          |appender.console.name = console
          |appender.console.target = SYSTEM_ERR
          |appender.console.layout.type = PatternLayout
          |appender.console.layout.pattern = %d{yy/MM/dd HH:mm:ss} %p %c{1}: %m%n
          |rootLogger.appenderRef.stdout.ref = console
          |""".stripMargin.getBytes("UTF-8"))
      // the system property matters as much as the reconfigure call:
      // SparkContext.stop() calls LoggerContext.reconfigure(), which
      // re-runs AUTO-DISCOVERY — with the property set, discovery finds
      // this file again (still non-default, still ERROR); without it,
      // discovery falls back to the default configuration, which the
      // NEXT context construction then overwrites with Spark's INFO
      // defaults before any setLogLevel can run
      System.setProperty("log4j2.configurationFile", props.toUri.toString)
      org.apache.logging.log4j.core.config.Configurator.reconfigure(props.toUri)
    } catch { case scala.util.control.NonFatal(_) => () }

  def main(args: Array[String]): Unit = {
    quietRootLogger()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

    // One builder for every session the bench creates (the sweep restarts
    // the session between slices — below). Status-store retention is
    // trimmed hard: even with the UI off, AppStatusListener +
    // SQLAppStatusListener retain per-job/stage/task/execution state at
    // defaults of 1000 jobs / 1000 stages / 100k tasks / 1000 SQL
    // executions — an 86-query × 4-run sweep accumulates tens of MB of
    // listener state whose GC pressure the r12 A/B measured as 5-10× leg
    // inflation. The bench measures queries, not the status store.
    def freshSession(tally: CpuTally): SparkSession = {
      val s = GraftSession.builder(s"local[$cpus]", cpus.toInt)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.ui.retainedDeadExecutors", "5")
        .config("spark.sql.ui.retainedExecutions", "10")
        .getOrCreate()
      // ERROR, not WARN (r16 verdict #6, third round on the list): the
      // recorded artifact tail kept opening with mid-run WARN noise —
      // streaming checkpoint/AQE warnings, large-task-binary warnings —
      // ahead of the contract lines. The bench JVM's log is not a
      // diagnostic surface (BENCH_detail.json is); only genuine errors
      // may reach the captured tail.
      s.sparkContext.setLogLevel("ERROR")
      s.range(1000000).selectExpr("sum(id)").collect()
      Tables.all.foreach { t =>
        try {
          if (t == "events") Tables.events(s, sfDir).count()
          else Tables.load(s, sfDir, t).count()
        } catch { case _: Throwable => () }
      }
      s.sparkContext.addSparkListener(tally)
      s
    }
    // r15 verdict #5 (clean artifact tail): session teardown can log an
    // ERROR-level RPC/netty stack trace (benign local-mode shutdown race)
    // which lands in the driver's captured tail AHEAD of the contract
    // line. r16 ADVICE refinement: silence only the shutdown-race logger
    // CATEGORIES (RPC/network/netty), not the root logger — a genuine
    // teardown failure elsewhere still reaches the artifact — and swallow
    // only NonFatal from the logger fiddling itself; s.stop() runs
    // unwrapped.
    def quietStop(s: SparkSession): Unit = {
      try {
        import org.apache.logging.log4j.Level
        import org.apache.logging.log4j.core.config.Configurator
        Seq("org.apache.spark.rpc", "org.apache.spark.network", "io.netty",
          "org.apache.spark.storage.BlockManagerMasterEndpoint")
          .foreach(Configurator.setLevel(_, Level.OFF))
      } catch { case scala.util.control.NonFatal(_) => () }
      s.stop()
    }
    val tally = new CpuTally
    var spark = freshSession(tally)

    val canCpuBefore = canaryCpu(spark)
    val canScanBefore = canaryScan(spark, sfDir)

    // SPARK_GRAFT_QUERIES=q63_simhash_pairs,q73_ppmi_pairs narrows the sweep
    // (the 10×/30× growth probes re-time a handful of tail queries — running
    // the full 73-query board at every probe scale would be hours, not data)
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // The sweep runs in SESSION SLICES (default 30 queries, env
    // SPARK_GRAFT_SLICE; 0 disables): the r12 judge re-ran q43 fresh at
    // 0.76-1.03 s where the in-suite sweep read 2.19 s — accumulated
    // SparkContext state (status store, block manager, listener bus,
    // state-store maintenance) inflates late-alphabet queries. Stopping
    // and recreating the session every slice drops all context-held state
    // while keeping the JVM's JIT warm, bounding any query's contamination
    // to its own slice. Cost: ~2 s/restart, twice per full sweep.
    val slice = sys.env.getOrElse("SPARK_GRAFT_SLICE", "30").toInt
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results = picked.grouped(if (slice > 0) slice else Int.MaxValue)
      .toSeq.zipWithIndex.flatMap { case (grp, i) =>
        if (i > 0) { quietStop(spark); spark = freshSession(tally) }
        grp.map { case (name, fn) => runQuery(spark, sfDir, name, fn, Some(tally)) }
      }

    // post-sweep canary: detects machine state that degraded DURING the run
    val canCpuAfter = canaryCpu(spark)
    val canScanAfter = canaryScan(spark, sfDir)
    // the scan ratio is meaningful only against the FIXED table the
    // reference value was measured on; on the fallback path the scan canary
    // scales with the SF under test and would fake machine degradation
    val cpuRatio = math.max(canCpuBefore, canCpuAfter) / CanaryRefCpuSec
    val scanRatio = math.max(canScanBefore, canScanAfter) / CanaryRefScanSec
    val health =
      if (canaryScanIsFixed) math.max(cpuRatio, scanRatio) else cpuRatio

    val ok = results.filter(_.err.isEmpty)
    val total = ok.map(_.sec).sum
    val hashTotal = ok.filter(r => HashFamily(r.name)).map(_.sec).sum
    val idiomaticTotal = total - hashTotal

    // rounded via math.round, NOT the f-interpolator: f"" formats with the
    // JVM default locale, and a comma-decimal locale would emit invalid JSON
    def r2(x: Double): Double = math.round(x * 100.0) / 100.0
    def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0
    def mb(bytes: Long): Double = bytes / 1048576.0
    def arr[A](xs: Seq[A]): String = xs.mkString("[", ",", "]")
    val detail = results.map { r =>
      val l = r.layers
      jstr(r.name) + ":{\"sec\":" + r.sec + ",\"rows\":" + r.rows +
        ",\"err\":" + r.err.map(jstr).getOrElse("null") +
        ",\"reps\":" + arr(r.reps) +
        ",\"cpu_reps\":" + arr(r.cpuReps.map(r3)) +
        ",\"shuf_mb\":" + arr(l.map(x => r2(mb(x.shufBytes)))) +
        ",\"spill_mb\":" + arr(l.map(x => r2(mb(x.spillBytes)))) +
        ",\"jobs\":" + arr(l.map(_.jobs)) +
        ",\"stages\":" + arr(l.map(_.stages)) +
        ",\"tasks\":" + arr(l.map(_.tasks)) +
        ",\"scan_mb\":" + arr(l.map(x => r3(mb(x.scanBytes)))) +
        ",\"scan_records\":" + arr(l.map(_.scanRecords)) +
        ",\"shuf_records\":" + arr(l.map(_.shufRecords)) +
        ",\"compiles\":" + arr(l.map(_.compiles)) +
        ",\"compile_ms\":" + arr(l.map(x => r2(x.compileNs / 1e6))) +
        r.warm.map(w => ",\"warm_compiles\":" + w.compiles +
          ",\"warm_compile_ms\":" + r2(w.compileNs / 1e6)).getOrElse("") +
        "}"
    }.mkString("{", ",", "}")
    val canary =
      s"""{"cpu_sec":$canCpuBefore,"scan_sec":$canScanBefore,""" +
      s""""cpu_sec_after":$canCpuAfter,"scan_sec_after":$canScanAfter,""" +
      s""""ref_cpu_sec":$CanaryRefCpuSec,"ref_scan_sec":$CanaryRefScanSec,""" +
      s""""scan_is_fixed":$canaryScanIsFixed,"health":${r2(health)}}"""
    val subtotals =
      s"""{"idiomatic":${r3(idiomaticTotal)},"hash_family":${r3(hashTotal)}}"""

    // THE driver contract line: <512 bytes, bare JSON (build.sbt routes
    // forked stdout raw — no "[info] " prefix), printed TWICE — right here,
    // before the legs (which take minutes and could die), and again as the
    // very last line of stdout so it survives whichever end of the stream
    // the driver reads. The per-query map carries only the 3-query Headline
    // subset unless the sweep was already narrowed; the full board is in
    // BENCH_detail.json.
    val slim = (if (results.size <= 8) results
                else results.filter(r => Headline.contains(r.name)))
      .map(r => jstr(r.name) + ":" + r3(r.sec)).mkString("{", ",", "}")
    val metricLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$slim,""" +
      s""""sf":${jstr(sfDir)},"materialize":"noop","statistic":"min_of_reps",""" +
      s""""queries_run":${results.size},"errors":${results.count(_.err.nonEmpty)},""" +
      s""""subtotals":$subtotals}"""
    println(metricLine)

    def block(f: => String): String =
      try f
      catch { case t: Throwable =>
        s"""{"err":${jstr(s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(200)}")}}"""
      }
    // Leg-local canary: the streaming/MC legs run AFTER the sweep in this
    // JVM, and the r12 same-binary A/B proved in-sweep leg numbers can
    // inflate 5-10x from accumulated JVM state (state-store maintenance
    // threads, GC pressure, listener backlog) while isolated fresh-JVM
    // runs sit at parity with the previous binary. This canary pins the
    // machine state immediately before the legs so a reader can tell
    // leg-context inflation from machine degradation; authoritative leg
    // numbers remain isolated runs (SPARK_GRAFT_QUERIES=none).
    val legCanaryCpu = canaryCpu(spark)
    val streaming = block(streamingBench(spark))
    val mc = block(mcBench(spark))

    // Fresh-session sentinel RECHECK, recorded in the SAME artifact (r12
    // verdict #3's acceptance bar: in-suite q43/q85 within ~1.3× of a
    // fresh run, provable without a separate timing run). A fresh
    // session after a full context stop — status store, block manager,
    // listener bus, state stores all dropped, JIT kept warm — is the
    // in-process proxy for a fresh JVM. Compare `recheck.<name>` against
    // `queries.<name>` / detail.
    val sentinelNames = Seq("q43_minhash_lsh_pairs", "q85_heavy_hitters")
      .filter(n => picked.exists(_._1 == n))
    val recheck = block {
      if (sentinelNames.isEmpty || sys.env.get("SPARK_GRAFT_RECHECK").contains("0"))
        """{"skipped":true}"""
      else {
        quietStop(spark); spark = freshSession(tally)
        val rs = sentinelNames.map(n =>
          n -> runQuery(spark, sfDir, n, SparkEntry.queries(n), Some(tally)))
        val can = canaryCpu(spark)
        rs.map { case (n, r) => jstr(n) + ":" + r3(r.sec) }
          .mkString("{", ",", s""","canary_cpu_sec":${r3(can)}}""")
      }
    }

    // Diagnostics line (no "metric" key, so the driver can't mistake it
    // for the contract line): canary, leg results, sentinel recheck. Also
    // all duplicated into BENCH_detail.json below.
    println(s"""{"canary":$canary,"legs_canary_cpu_sec":${r3(legCanaryCpu)},""" +
      s""""streaming":$streaming,"mc":$mc,"recheck":$recheck}""")
    // Per-query history survives tail truncation by living in its OWN file
    // (round-10 verdict #4): the archived BENCH_rNN.json keeps only the
    // main line's tail, so round-over-round comparison covered ~13 of 73
    // queries. BENCH_detail.json in the cwd (the repo root under the
    // driver) is swept into the driver's artifact commit, giving git the
    // full board every round. Written before the final println and
    // best-effort: an unwritable cwd must not kill the bench contract.
    val detailOut = sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT", "BENCH_detail.json")
    if (detailOut.nonEmpty) try {
      val w = new java.io.PrintWriter(detailOut, "UTF-8")
      try w.println(
        s"""{"sf":${jstr(sfDir)},"materialize":"noop",""" +
        s""""errors":${results.count(_.err.nonEmpty)},""" +
        s""""canary":$canary,"subtotals":$subtotals,"recheck":$recheck,""" +
        s""""detail":$detail}""")
      finally w.close()
    } catch { case _: java.io.IOException => () }
    // the contract line again, as the absolute last line of stdout (after
    // stop(), so no Spark shutdown chatter can land behind it)
    quietStop(spark)
    println(metricLine)
  }
}
