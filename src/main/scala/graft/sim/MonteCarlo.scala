package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Monte Carlo bankroll risk simulation (D6/D7 + A17): the reference runs
  * 10k–100k iterations × 500 games with Kelly-fraction sizing and drawdown
  * circuit breakers (`src/recording_ui/services/monte_carlo.py:369-528`),
  * then aggregates the equity curves into a risk report
  * (`monte_carlo.py:530-612`).
  *
  * Spark shape: `spark.range(iterations)` → mapPartitions with a PER-ID
  * seeded RNG (the reference's unseeded RNG at `monte_carlo.py:380` is made
  * deterministic per SURVEY §7.4-5) → results DataFrame → declarative A17
  * aggregates. Embarrassingly parallel: no shuffle until the final tiny agg.
  */
object MonteCarlo {

  /** @param kellyFraction fraction of full Kelly to bet (0.25 = quarter-Kelly)
    * @param winRate per-bet win probability (reference observed 17.6%)
    * @param payout net odds (5:1 sidebet payout)
    * @param adaptiveSizing D7: when true, bet size comes from a
    *   [[ThetaBayesian]] posterior updated after every bet (the reference's
    *   adaptive strategy, `monte_carlo.py:176-258`) instead of the fixed
    *   winRate; the posterior starts at Beta(priorAlpha, priorBeta)
    */
  case class SimConfig(
      iterations: Int = 10000,
      gamesPerIteration: Int = 500,
      winRate: Double = 0.176,
      payout: Double = 5.0,
      kellyFraction: Double = 0.25,
      startingBankroll: Double = 1.0,
      seed: Long = 42L,
      adaptiveSizing: Boolean = false,
      priorAlpha: Double = 1.0,
      priorBeta: Double = 1.0) {
    /** Full-Kelly optimal fraction f* = (p·(b+1) − 1) / b. */
    def kellyStar: Double = (winRate * (payout + 1) - 1) / payout
    def betFraction: Double = math.max(0.0, kellyStar * kellyFraction)
  }

  case class SimResult(
      iteration: Long,
      finalBankroll: Double,
      maxDrawdown: Double,
      peakBankroll: Double,
      ruined: Boolean,
      nBets: Int,
      sharpe: Double,
      sortino: Double,
      calmar: Double)

  /** One simulated equity curve, deterministic in (cfg.seed, iteration id).
    * Sharpe/Sortino are per-bet log-return ratios (×√n); Calmar = total
    * log growth over max drawdown (`monte_carlo.py:530-612` ratio family).
    */
  private def runOne(id: Long, cfg: SimConfig): SimResult = {
    val rng = new Lcg48(cfg.seed * 1000003L + id)
    var bankroll = cfg.startingBankroll
    var peak = bankroll
    var maxDD = 0.0
    var bets = 0
    var ruined = false
    var sumLr = 0.0
    var sumLr2 = 0.0
    var sumNegLr2 = 0.0
    var est = ThetaBayesian(alpha = cfg.priorAlpha, beta = cfg.priorBeta)
    var i = 0
    while (i < cfg.gamesPerIteration && !ruined) {
      // adaptive: quarter-Kelly of the CURRENT posterior mean (a flat
      // Beta(1,1) prior bets 0 until evidence accumulates — mean 0.5 gives
      // positive Kelly at 5:1; an informative pessimistic prior holds fire)
      val frac =
        if (cfg.adaptiveSizing)
          math.max(0.0, est.kellyFraction(cfg.payout) * cfg.kellyFraction)
        else cfg.betFraction
      val bet = bankroll * frac
      val win = rng.nextDouble() < cfg.winRate
      if (bet > 0) {
        val before = bankroll
        bankroll += (if (win) bet * cfg.payout else -bet)
        val lr = math.log(bankroll / before)
        sumLr += lr; sumLr2 += lr * lr
        if (lr < 0) sumNegLr2 += lr * lr
        bets += 1
        if (bankroll > peak) peak = bankroll
        val dd = 1.0 - bankroll / peak
        if (dd > maxDD) maxDD = dd
        if (bankroll < cfg.startingBankroll * 0.01) ruined = true
      }
      // the posterior learns from every observed game, bet or not — the
      // reference updates its estimator on each outcome it records
      if (cfg.adaptiveSizing) est = est.observe(win)
      i += 1
    }
    val n = math.max(bets, 1)
    val mean = sumLr / n
    val std = math.sqrt(math.max(0.0, sumLr2 / n - mean * mean))
    val downStd = math.sqrt(sumNegLr2 / n)
    val sharpe = if (std > 0) mean / std * math.sqrt(n.toDouble) else 0.0
    val sortino = if (downStd > 0) mean / downStd * math.sqrt(n.toDouble) else 0.0
    val calmar = if (maxDD > 0) sumLr / maxDD else 0.0
    SimResult(id, bankroll, maxDD, peak, ruined, bets, sharpe, sortino, calmar)
  }

  /** `java.util.Random`'s 48-bit LCG, bit for bit, with the seed in a plain
    * field: each `Random.next` is an `AtomicLong` compare-and-set, which a
    * single-threaded equity curve of 500 draws per iteration does not need.
    */
  private[sim] final class Lcg48(seed: Long) {
    private var s = (seed ^ 0x5DEECE66DL) & 0xFFFFFFFFFFFFL
    private def next(bits: Int): Int = {
      s = (s * 0x5DEECE66DL + 0xBL) & 0xFFFFFFFFFFFFL
      (s >>> (48 - bits)).toInt
    }
    def nextDouble(): Double = ((next(26).toLong << 27) + next(27)) * (1.0 / (1L << 53))
  }

  def simulate(spark: SparkSession, cfg: SimConfig): DataFrame = {
    import spark.implicits._
    spark.range(cfg.iterations.toLong)
      .mapPartitions(_.map(id => runOne(id, cfg)))
      .toDF()
  }

  /** Risk report (A17, `monte_carlo.py:530-612`): distribution of final
    * bankrolls, risk of ruin, P(profit), P(2x), VaR/CVaR, drawdown envelope.
    * CVaR95 = mean of the worst 5% of outcomes (avg where <= VaR95).
    *
    * The simulation runs once: `results` is checkpointed lazily, the eager
    * quantile job materializes it, and the returned report reads it. All
    * three exact quantiles come from that one job, so the report itself is
    * declarative aggregates over literals (codegen'd `HashAggregate`).
    * Over an empty input every statistic is null and `n_iterations` is 0.
    */
  def riskReport(results: DataFrame): DataFrame = {
    val sims = results.localCheckpoint(eager = false)
    val q = sims.agg(
      expr("percentile(finalBankroll, array(0.05, 0.5))"),
      expr("percentile(maxDrawdown, 0.95)")).head()
    val Seq(var95, median, p95dd) =
      if (q.isNullAt(0)) Seq.fill(3)(lit(null).cast("double"))
      else (q.getSeq[Double](0) :+ q.getDouble(1)).map(lit)
    sims.agg(
      count(lit(1)).as("n_iterations"),
      avg("finalBankroll").as("mean_final"),
      median.as("median_final"),
      stddev(col("finalBankroll")).as("std_final"),
      avg(col("ruined").cast("double")).as("risk_of_ruin"),
      avg((col("finalBankroll") > 1.0).cast("double")).as("p_profit"),
      avg((col("finalBankroll") > 2.0).cast("double")).as("p_double"),
      var95.as("var_95"),
      avg(when(col("finalBankroll") <= var95, col("finalBankroll"))).as("cvar_95"),
      avg("maxDrawdown").as("mean_max_drawdown"),
      p95dd.as("p95_max_drawdown"),
      avg("sharpe").as("mean_sharpe"),
      avg("sortino").as("mean_sortino"),
      avg("calmar").as("mean_calmar"))
  }
}
