package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** One request a client issues against the query surface. `build` is the
  * public query function (it may run eager fit or collect jobs); the result
  * is then fully materialized through the noop sink.
  */
final case class Op(name: String, module: String, build: SparkSession => DataFrame)

/** One timed pass: the sum of its op latencies, the CPU the process spent
  * on its ops, and whether it was traced.
  */
final case class PassStat(wall: Double, cpu: Double, traced: Boolean)

/** What every workload shares: the session, the probe, the trace, and the
  * tally of ops attempted and failed.
  */
final class Ctx(val spark: SparkSession, val probe: Probe, val trace: Trace,
    val traced: Boolean, val cores: Int, val seed: Long, val seconds: Double,
    val log: String => Unit) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Counts per op name, summed over timed passes. */
  val layer = mutable.LinkedHashMap.empty[String, (Counts, Double, Double, Double)]
  /** Latency samples per op name, in the order they ran. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var opSeq = 0L

  def fail(what: String): Unit = { failed += 1; failures += what; log(s"FAILED $what") }

  /** Timed passes to run at least: a traced run alternates untraced and
    * traced passes, so it can report what tracing costs.
    */
  def minPasses: Int = if (traced) 2 else 1

  /** Trace pass `pass` (the warm pass is -1) of a traced run? */
  def tracePass(pass: Int): Unit = trace.enabled = traced && pass % 2 != 0

  /** Runs `body` as one op under a fresh job tag, then drains the bus.
    * Returns the body's result (or the error) and the op's Spark counts.
    */
  def tagged[T](op: String)(body: => T): (Either[Throwable, T], Counts) = {
    opSeq += 1
    val tag = s"${Probe.OpPrefix}$opSeq"
    val sc = spark.sparkContext
    probe.current = tag
    sc.addJobTag(tag)
    val r = try Right(body) catch { case t: Throwable => Left(t) }
    finally sc.removeJobTag(tag)
    probe.drain(sc, tag)
    val c = probe.take(tag)
    c.plans.foreach { case (s, e) => trace.addWallMs(op, "plan", s, e, wallToNano) }
    (r, c)
  }

  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def wallToNano(ms: Long): Long = ms * 1000000L + nanoOffset

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this process has used, all threads (Spark tasks, the driver,
    * JIT compiler and collector), in nanoseconds.
    */
  def processCpuNs: Long = os.getProcessCpuTime

  def timeNs[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime(); val r = body; (r, System.nanoTime() - t0)
  }
}

object Workloads {
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val moduleOf: Map[String, String] = {
    import graft._
    Seq(
      "ops" -> Seq(ops.CoreQueries.queries, ops.WindowQueries.queries,
        ops.EventQueries.queries, ops.AnalyticsQueries.queries,
        ops.OrderStatistics.queries),
      "text" -> Seq(text.TextQueries.queries, text.HeavyHitters.queries),
      "similarity" -> Seq(similarity.SimilarityQueries.queries,
        similarity.DedupClusters.queries, similarity.Embeddings.queries,
        similarity.QuantizedAnn.queries, similarity.ProductQuantization.queries,
        similarity.IvfPq.queries),
      "multimodal" -> Seq(multimodal.MultimodalQueries.queries,
        multimodal.Mp4Demux.queries, multimodal.WebmDemux.queries))
      .flatMap { case (m, maps) => maps.flatMap(_.keys).map(_ -> m) }.toMap
  }

  val Modules: Seq[String] = Seq("ops", "text", "similarity", "multimodal", "sim")

  def query(name: String, dir: String): Op = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no registered query $name"))
    Op(name, moduleOf(name), s => fn(s, dir))
  }

  /** The Monte Carlo leg: 100k iterations x 500 games and the full risk
    * report (its VaR percentile is an eager job inside `build`).
    */
  val monteCarlo: Op = Op("mc_risk_report", "sim", s => graft.sim.MonteCarlo.riskReport(
    graft.sim.MonteCarlo.simulate(s, graft.sim.MonteCarlo.SimConfig(
      iterations = 100000, gamesPerIteration = 500))))

  /** sf0.1, floor-bound: cheap queries from every module plus the MC leg. */
  val SweepQueries: Seq[String] = Seq(
    "q01_group_agg", "q11_pagination", "q21_window_lag", "q33_text_quality",
    "q58_decontamination", "q40_cosine_topk", "q91_mp4_demux")

  /** 10x replica, CPU- and shuffle-bound: the two analytics window
    * queries with the most task CPU and a banded-pair query.
    */
  val ScaleQueries: Seq[String] = Seq(
    "q46_equity_curve", "q50_obs_features", "q77_simhash_pairs_blocked")

  /** Tables the sweep queries read. */
  val SweepTables: Seq[String] = Seq("lineitem", "orders", "events", "documents", "embeddings")

  /** Tables the scale queries read; only these are replicated. */
  val ScaleTables: Seq[String] = Seq("events", "documents", "embeddings")

  def sweepOps(dir: String): Seq[Op] = SweepQueries.map(query(_, dir)) :+ monteCarlo
  def scaleOps(dir: String): Seq[Op] = ScaleQueries.map(query(_, dir))

  /** Opens the scans of `tables` (file listing and footers) and runs one
    * trivial job: what a fresh session pays before it serves a query.
    */
  def openTables(spark: SparkSession, dir: String, tables: Seq[String]): Unit = {
    tables.foreach { t =>
      if (t == "events") Tables.events(spark, dir).schema else Tables.load(spark, dir, t).schema
    }
    spark.range(1).count()
  }

  /** A closed loop with one client: an untimed warm pass that checks each
    * result against its golden digest, then timed passes in seeded order,
    * each op materialized through the noop sink, within `ctx.seconds`. Returns the op latencies and each timed pass.
    */
  def queryLoop(ctx: Ctx, workload: String, ops: Seq[Op],
      goldens: Map[String, Digest.Value], pin: mutable.Map[String, Digest.Value])
      : (Seq[Double], Seq[PassStat]) = {
    val rng = new scala.util.Random(ctx.seed)
    ctx.tracePass(-1)
    rng.shuffle(ops).foreach { op =>
      val id = s"$workload/${op.name}"
      ctx.attempted += 1
      val (r, _) = ctx.tagged(id) {
        ctx.trace.span(id, id) {
          val df = ctx.trace.span(id, "build")(op.build(ctx.spark))
          ctx.trace.span(id, "digest")(Digest.of(df))
        }
      }
      r match {
        case Left(t) => ctx.fail(s"$id: ${t.getClass.getSimpleName}: ${t.getMessage}")
        case Right(d) =>
          pin(op.name) = d
          goldens.get(op.name) match {
            case None => ctx.fail(s"$id: no golden digest")
            case Some(g) if g != d => ctx.fail(s"$id: digest $d != golden $g")
            case _ => ()
          }
      }
    }
    ctx.log("warm pass done")
    val lat = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[PassStat]
    val t0 = System.nanoTime()
    var last = 0.0
    var pass = 0
    // a pass starts only if, as long as the last one, it ends in the window
    while (pass < ctx.minPasses || (System.nanoTime() - t0) / 1e9 + last <= ctx.seconds) {
      ctx.tracePass(pass)
      val p0 = System.nanoTime()
      var passSec = 0.0
      var passCpu = 0L
      rng.shuffle(ops).foreach { op =>
        val id = s"$workload/${op.name}"
        ctx.attempted += 1
        // each op starts on a collected heap, so a collection its
        // predecessor left due is not charged to it
        System.gc()
        var build = 0L
        var exec = 0L
        val cpu0 = ctx.processCpuNs
        val (r, counts) = ctx.tagged(id) {
          ctx.trace.span(id, id) {
            val (df, b) = ctx.timeNs(ctx.trace.span(id, "build")(op.build(ctx.spark)))
            build = b
            exec = ctx.timeNs(ctx.trace.span(id, "exec")(materialize(df)))._2
          }
        }
        passCpu += ctx.processCpuNs - cpu0
        r match {
          case Left(t) => ctx.fail(s"$id: ${t.getClass.getSimpleName}: ${t.getMessage}")
          case Right(_) =>
            val wall = (build + exec) / 1e9
            lat += wall
            passSec += wall
            ctx.samples.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += wall
            val (c, b0, e0, w0) = ctx.layer.getOrElse(op.name, (new Counts, 0.0, 0.0, 0.0))
            c.add(counts)
            ctx.layer(op.name) = (c, b0 + build / 1e9, e0 + exec / 1e9, w0 + wall)
        }
      }
      passes += PassStat(passSec, passCpu / 1e9, ctx.trace.enabled)
      last = (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    (lat.toSeq, passes.toSeq)
  }

  /** Per-module layer metrics, per timed pass. */
  def moduleMetrics(ctx: Ctx, ops: Seq[Op], passes: Int): Seq[(String, Double, String)] = {
    val byOp = ops.map(o => o.name -> o.module).toMap
    Modules.flatMap { m =>
      val rows = ctx.layer.toSeq.filter { case (n, _) => byOp.get(n).contains(m) }.map(_._2)
      val c = new Counts
      rows.foreach(r => c.add(r._1))
      val n = math.max(passes, 1).toDouble
      val wall = rows.map(_._4).sum
      val cpu = c.cpuNs / 1e9
      val mb = 1024.0 * 1024.0
      Seq(
        (s"$m.build_s", rows.map(_._2).sum / n, "s"),
        (s"$m.plan_s", c.planNs / 1e9 / n, "s"),
        (s"$m.exec_s", rows.map(_._3).sum / n, "s"),
        (s"$m.jobs", c.jobs / n, "count"),
        (s"$m.stages", c.stages / n, "count"),
        (s"$m.tasks", c.tasks / n, "count"),
        (s"$m.floor_s", (wall - cpu / ctx.cores) / n, "s"),
        (s"$m.task_cpu_s", cpu / n, "s"),
        (s"$m.scan_mb", c.scanBytes / mb / n, "MB"),
        (s"$m.shuffle_write_mb", c.shuffleBytes / mb / n, "MB"),
        (s"$m.shuffle_records", c.shuffleRecords / n, "count"),
        (s"$m.spill_mb", c.spillBytes / mb / n, "MB"),
        (s"$m.peak_exec_mem_mb", c.peakMem / mb, "MB"))
    }
  }
}
