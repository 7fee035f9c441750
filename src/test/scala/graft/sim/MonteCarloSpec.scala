package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.MapPartitions

class MonteCarloSpec extends SparkSpec {

  private val cfg = MonteCarlo.SimConfig(iterations = 200, gamesPerIteration = 100)

  test("kelly fraction matches f* = (p(b+1)-1)/b") {
    val full = MonteCarlo.SimConfig(kellyFraction = 1.0)
    assert(math.abs(full.kellyStar - (0.176 * 6 - 1) / 5.0) < 1e-12)
    assert(full.betFraction === full.kellyStar)
  }

  test("simulation is deterministic per (seed, iteration)") {
    val a = MonteCarlo.simulate(spark, cfg).orderBy("iteration").collect()
    val b = MonteCarlo.simulate(spark, cfg).orderBy("iteration").collect()
    assert(a.map(_.getAs[Double]("finalBankroll")).toSeq ===
      b.map(_.getAs[Double]("finalBankroll")).toSeq)
    // different seed ⇒ different outcomes
    val c = MonteCarlo.simulate(spark, cfg.copy(seed = 7L)).orderBy("iteration").collect()
    assert(a.map(_.getAs[Double]("finalBankroll")).toSeq !==
      c.map(_.getAs[Double]("finalBankroll")).toSeq)
  }

  test("adaptive theta-Bayesian sizing runs deterministically and diverges from static") {
    val acfg = cfg.copy(adaptiveSizing = true)
    val a = MonteCarlo.simulate(spark, acfg).orderBy("iteration").collect()
    val b = MonteCarlo.simulate(spark, acfg).orderBy("iteration").collect()
    assert(a.map(_.getAs[Double]("finalBankroll")).toSeq ===
      b.map(_.getAs[Double]("finalBankroll")).toSeq)
    // same seed, different sizing strategy ⇒ different equity paths
    val s = MonteCarlo.simulate(spark, cfg).orderBy("iteration").collect()
    assert(a.map(_.getAs[Double]("finalBankroll")).toSeq !==
      s.map(_.getAs[Double]("finalBankroll")).toSeq)
    // a hopeless prior (mean ~1%) never finds a positive Kelly edge at 5:1
    // from a 17.6% true rate... it does once evidence accumulates; but the
    // first bets are held (bet=0 while posterior kelly <= 0)
    val held = MonteCarlo.simulate(spark,
      acfg.copy(priorAlpha = 1.0, priorBeta = 99.0, gamesPerIteration = 5))
      .orderBy("iteration").collect()
    assert(held.forall(_.getAs[Int]("nBets") === 0))
  }

  test("risk report fields are well-formed probabilities and quantiles") {
    val r = MonteCarlo.riskReport(MonteCarlo.simulate(spark, cfg)).head()
    assert(r.getAs[Long]("n_iterations") === 200L)
    val pProfit = r.getAs[Double]("p_profit")
    assert(pProfit >= 0.0 && pProfit <= 1.0)
    assert(r.getAs[Double]("risk_of_ruin") >= 0.0)
    assert(r.getAs[Double]("cvar_95") <= r.getAs[Double]("var_95") + 1e-12)
    assert(r.getAs[Double]("p95_max_drawdown") >= r.getAs[Double]("mean_max_drawdown") - 1e-12)
  }

  test("the in-class LCG draws the same doubles as java.util.Random, bit for bit") {
    // 42 * 1000003 + 99999: the largest per-iteration seed the 100k sweep uses
    for (seed <- Seq(0L, -987654321L, 42L * 1000003L + 99999L, Long.MinValue, Long.MaxValue)) {
      val lcg = new MonteCarlo.Lcg48(seed)
      val ref = new java.util.Random(seed)
      for (i <- 0 until 20000) {
        val (a, b) = (lcg.nextDouble(), ref.nextDouble())
        assert(java.lang.Double.doubleToRawLongBits(a) === java.lang.Double.doubleToRawLongBits(b),
          s"seed $seed draw $i: $a != $b")
      }
    }
  }

  test("risk report over zero iterations is one row of n = 0 and null statistics") {
    val r = MonteCarlo.riskReport(MonteCarlo.simulate(spark, cfg.copy(iterations = 0))).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_iterations") === 0L)
    val stats = r.head.schema.fieldNames.filter(_ != "n_iterations")
    assert(stats.length === 13)
    stats.foreach(f => assert(r.head.isNullAt(r.head.fieldIndex(f)), f))
  }

  test("risk report reads the simulation once and aggregates in codegen'd HashAggregate") {
    val report = MonteCarlo.riskReport(MonteCarlo.simulate(spark, cfg))
    val logical = report.queryExecution.optimizedPlan
    assert(logical.collect { case m: MapPartitions => m }.isEmpty,
      s"the report must read the checkpointed simulation, not re-run it:\n$logical")
    report.collect()
    val physical = report.queryExecution.executedPlan.toString
    assert(physical.contains("HashAggregate"), physical)
    assert(!physical.contains("ObjectHashAggregate"), physical)
    assert(!physical.toLowerCase.contains("percentile"), physical)
  }

  test("risk report matches a driver-side reference at 200 x 100") {
    val sims = MonteCarlo.simulate(spark, cfg).collect()
    val fb = sims.map(_.getAs[Double]("finalBankroll"))
    val dd = sims.map(_.getAs[Double]("maxDrawdown"))
    // Spark's exact percentile: linear interpolation at position (n - 1) * p
    def quantile(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted
      val pos = (s.length - 1) * p
      val (lo, hi) = (pos.floor.toLong, pos.ceil.toLong)
      if (lo == hi || s(lo.toInt) == s(hi.toInt)) s(lo.toInt)
      else (hi - pos) * s(lo.toInt) + (pos - lo) * s(hi.toInt)
    }
    def mean(xs: Array[Double]): Double = xs.sum / xs.length
    val var95 = quantile(fb, 0.05)
    val r = MonteCarlo.riskReport(MonteCarlo.simulate(spark, cfg)).head()
    assert(r.getAs[Long]("n_iterations") === 200L)
    assert(r.getAs[Double]("var_95") === var95)
    assert(r.getAs[Double]("median_final") === quantile(fb, 0.5))
    assert(r.getAs[Double]("p95_max_drawdown") === quantile(dd, 0.95))
    def close(field: String, expected: Double): Unit = {
      val got = r.getAs[Double](field)
      assert(math.abs(got - expected) <= 1e-12 * math.max(1.0, math.abs(expected)),
        s"$field: $got != $expected")
    }
    close("cvar_95", mean(fb.filter(_ <= var95)))
    val m = mean(fb)
    close("mean_final", m)
    close("std_final", math.sqrt(fb.map(x => (x - m) * (x - m)).sum / (fb.length - 1)))
    close("risk_of_ruin", mean(sims.map(x => if (x.getAs[Boolean]("ruined")) 1.0 else 0.0)))
    close("p_profit", mean(fb.map(x => if (x > 1.0) 1.0 else 0.0)))
    close("p_double", mean(fb.map(x => if (x > 2.0) 1.0 else 0.0)))
    close("mean_max_drawdown", mean(dd))
    for (f <- Seq("sharpe", "sortino", "calmar"))
      close(s"mean_$f", mean(sims.map(_.getAs[Double](f))))
  }
}
