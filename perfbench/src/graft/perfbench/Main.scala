package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark harness. It calls only the program's public functions and
  * measures them from outside; see perfbench/README.md for the workloads
  * and metrics. `perfbench/run.py` builds it and starts it.
  *
  * Arguments (all required unless noted):
  *   --workload sweep_sf01|scale_10x|store_rw  --seed n  --seconds s
  *   --trace 0|1  --cores n  --data <sf0.1 dir>  --replica <10x dir>
  *   --goldens <file>  --work <scratch dir>  --out <result file>
  *   --commit <id>
  * or, to tie the goldens to an oracle-checked dump of `graft.Verify`:
  *   --check-dir <dump dir>  --goldens <file>  --cores n  --work <dir>
  */
object Main {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val cores = arg("cores").toInt
    val work = arg("work")
    args.get("check-dir").foreach { d => sys.exit(checkDir(d, arg("goldens"), cores, work)) }
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val out = arg("out")
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val log: String => Unit = s => System.err.println(f"[perfbench ${uptime.getUptime / 1000.0}%.1fs] $s")
    require(Set("sweep_sf01", "scale_10x", "store_rw")(workload), s"unknown workload $workload")

    val (dir, tables) = workload match {
      case "sweep_sf01" => (arg("data"), Workloads.SweepTables)
      case "scale_10x" => (arg("replica"), Workloads.ScaleTables)
      case _ => ("", Nil)
    }

    // set-up, five times: a fresh session, its inputs opened, one job run
    val setup = (1 to 5).map { i =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val s = session(cores, work)
      if (tables.nonEmpty) Workloads.openTables(s, dir, tables) else s.range(1).count()
      (System.nanoTime() - t0) / 1e9
    }
    val spark = SparkSession.active
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe.queryListener)
    spark.streams.addListener(probe.streamListener)
    log(s"set-up ${setup.mkString(" ")}")
    val canaryBefore = graft.Bench.canaryCpu(spark)

    val trace = new Trace(false)
    val ctx = new Ctx(spark, probe, trace, traced, cores, seed, seconds, log)
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    e2e("setup_s") = (median(setup), "s")
    val digests = mutable.LinkedHashMap.empty[String, Digest.Value]
    var passSamples = Seq.empty[PassStat]

    def queryWorkload(ops: Seq[Op]): Unit = {
      val goldens = Digest.load(arg("goldens"))
      val (lat, passes) = Workloads.queryLoop(ctx, workload, ops, goldens, digests)
      Workloads.moduleMetrics(ctx, ops, passes.size).foreach { case (k, v, u) => layer(k) = (v, u) }
      // one pass as the sum of each op's median: an op's outlier in one
      // pass does not move it
      report(ctx.samples.values.map(v => median(v.toSeq)).sum, passes, lat)
    }
    def report(pass: Double, passes: Seq[PassStat], ops: Seq[Double]): Unit = {
      e2e("pass_s") = (pass, "s")
      passSamples = passes
      layer("client.process_cpu_s") = (median(passes.map(_.cpu)), "s")
      layer("client.op_p50_s") = (median(ops), "s")
      layer("client.op_p90_s") = (quantile(ops, 0.9), "s")
      val (t, u) = passes.partition(_.traced)
      layer("trace.pass_s") = (median(t.map(_.wall)), "s")
      layer("trace.overhead_s") = (median(t.map(_.wall)) - median(u.map(_.wall)), "s")
    }

    try workload match {
      case "sweep_sf01" => queryWorkload(Workloads.sweepOps(dir))
      case "scale_10x" => queryWorkload(Workloads.scaleOps(dir))
      case "store_rw" =>
        val passes = StoreRw.run(ctx, new java.io.File(work, "store_rw"))
        storeMetrics(passes, cores).foreach { case (k, v, u) => layer(k) = (v, u) }
        report(median(passes.map(_.wall)), passes.zipWithIndex.map { case (p, i) =>
          PassStat(p.wall, p.cpu, traced && i % 2 != 0) },
          passes.flatMap(p => p.batchSec ++ p.lookupSec :+ p.recoverySec :+ p.dedupSec))
    } catch {
      case t: Throwable =>
        ctx.attempted += 1
        ctx.fail(s"$workload: ${t.getClass.getSimpleName}: ${t.getMessage}")
        t.printStackTrace()
    }
    trace.enabled = false
    log("timed legs done")
    val canaryAfter = graft.Bench.canaryCpu(spark)

    // every module metric exists on every workload, zero where unused
    if (!layer.contains("ops.build_s"))
      Workloads.moduleMetrics(ctx, Nil, 1).foreach { case (k, _, u) => layer(k) = (0.0, u) }
    if (!layer.contains("streaming.batches"))
      storeMetrics(Nil, cores).foreach { case (k, _, u) => layer(k) = (0.0, u) }

    val metrics = if (traced) layer else e2e
    val result = Json.obj(Seq(
      "correct" -> (ctx.failed == 0).toString,
      "attempted" -> math.max(ctx.attempted, 1L).toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
      })))
    val context = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> traced.toString,
      "nproc" -> cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> Json.str(spark.version),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "commit" -> Json.str(args.getOrElse("commit", "unknown")),
      "canary_cpu_s_before" -> Json.num(canaryBefore),
      "canary_cpu_s_after" -> Json.num(canaryAfter),
      "canary_cpu_s_ref" -> Json.num(graft.Bench.CanaryRefCpuSec),
      "failures" -> ctx.failures.take(20).map(Json.str).mkString("[", ",", "]"),
      "setup_s_samples" -> setup.map(Json.num).mkString("[", ",", "]"),
      "pass_s_samples" -> passSamples.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
      "pass_cpu_s_samples" -> passSamples.map(p => Json.num(p.cpu)).mkString("[", ",", "]"),
      "digests" -> Json.obj(digests.map { case (k, v) => k -> v.json }),
      "op_latency_s" -> Json.obj(ctx.samples.map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ",", "]") }),
      "op_counts" -> Json.obj(ctx.layer.map { case (k, (c, _, _, _)) => k -> Json.obj(Seq(
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "task_cpu_s" -> Json.num(c.cpuNs / 1e9), "plan_s" -> Json.num(c.planNs / 1e9),
        "scan_bytes" -> c.scanBytes.toString, "shuffle_bytes" -> c.shuffleBytes.toString,
        "shuffle_records" -> c.shuffleRecords.toString, "spill_bytes" -> c.spillBytes.toString,
        "peak_exec_mem_bytes" -> c.peakMem.toString)) }),
      "end_to_end" -> Json.obj(e2e.map { case (k, (v, _)) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.map { case (k, (v, _)) => k -> Json.num(v) })))
    Json.write(s"$out.context.json", context)
    if (traced) trace.writeJson(s"$out.spans.json", s""""context":$context""")
    spark.stop()
    Json.write(out, result)
  }

  /** Digests each golden op's result as dumped by `graft.Verify` (one
    * parquet directory per query) and compares it with the golden: once the
    * dump has passed the DuckDB oracle check, this ties the goldens to it.
    */
  def checkDir(dir: String, goldens: String, cores: Int, work: String): Int = {
    val spark = session(cores, work)
    val bad = Digest.load(goldens).toSeq.sortBy(_._1).count { case (op, g) =>
      val f = new java.io.File(dir, op)
      if (!f.isDirectory) { println(s"SKIP $op: not in the dump"); false }
      else {
        val got = Digest.of(spark.read.parquet(f.getPath))
        println(s"${if (got == g) "PASS" else "FAIL"} $op golden ${g.json} dump ${got.json}")
        got != g
      }
    }
    spark.stop()
    if (bad == 0) 0 else 1
  }

  def storeMetrics(passes: Seq[StoreRw.PassResult], cores: Int): Seq[(String, Double, String)] = {
    val n = math.max(passes.size, 1).toDouble
    def per(f: StoreRw.PassResult => Double): Double = passes.map(f).sum / n
    val prog = passes.flatMap(_.progress)
    def phase(k: String): Double = prog.map(_.durationMs.getOrElse(k, 0L)).sum / 1000.0 / n
    val batches = passes.flatMap(_.batchSec)
    val lookups = passes.flatMap(_.lookupSec)
    val lc = new Counts
    passes.foreach(p => lc.add(p.lookupCounts))
    val mb = 1048576.0
    Seq(
      ("streaming.batches", prog.size / n, "count"),
      ("streaming.first_batch_s", per(_.batchSec.headOption.getOrElse(0.0)), "s"),
      ("streaming.add_batch_s", phase("addBatch"), "s"),
      ("streaming.query_planning_s", phase("queryPlanning"), "s"),
      ("streaming.wal_commit_s", phase("walCommit"), "s"),
      ("streaming.latest_offset_s", phase("latestOffset"), "s"),
      ("streaming.commit_offsets_s", phase("commitOffsets"), "s"),
      ("streaming.state_rows", if (prog.isEmpty) 0.0 else prog.map(_.stateRows).max.toDouble, "count"),
      ("streaming.state_mem_mb", if (prog.isEmpty) 0.0 else prog.map(_.stateMemBytes).max / mb, "MB"),
      ("streaming.state_partitions", if (prog.isEmpty) 0.0 else prog.map(_.statePartitions).max.toDouble, "count"),
      ("streaming.ingest_eps", per(p => p.events / (p.batchSec.sum + p.recoverySec)), "1/s"),
      ("streaming.batch_p50_s", if (batches.isEmpty) 0.0 else quantile(batches, 0.5), "s"),
      ("streaming.batch_p90_s", if (batches.isEmpty) 0.0 else quantile(batches, 0.9), "s"),
      ("streaming.recovery_s", per(_.recoverySec), "s"),
      ("streaming.dedup_eps", per(p => p.dedupEvents / p.dedupSec), "1/s"),
      ("store.files", per(_.files.toDouble), "count"),
      ("store.bytes", per(_.bytes.toDouble), "bytes"),
      ("store.bytes_per_event", per(p => p.bytes.toDouble / p.events), "bytes"),
      ("store.lookup_jobs", lc.jobs / n, "count"),
      ("store.lookup_tasks", lc.tasks / n, "count"),
      ("store.lookup_scan_mb", lc.scanBytes / mb / n, "MB"),
      ("store.lookup_cpu_s", lc.cpuNs / 1e9 / n, "s"),
      ("store.lookup_floor_s", (lookups.sum - lc.cpuNs / 1e9 / cores) / n, "s"),
      ("store.lookup_p50_s", if (lookups.isEmpty) 0.0 else quantile(lookups, 0.5), "s"),
      ("store.lookup_p95_s", if (lookups.isEmpty) 0.0 else quantile(lookups, 0.95), "s"))
  }
}
