package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}

/** Queries from several threads of one session, as a server running the
  * engine for several clients would: the four Lloyd fits, q85 and a query
  * from every other module, on four threads at once. Each result equals
  * its serial result, and each plan with an exchange keeps AQE at the
  * session's shuffle-partition count. A query path that wrote the
  * session's conf (as the Lloyd fit once did, turning AQE off around
  * itself) would leak that setting into the queries planned beside it.
  */
class ConcurrentQueriesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val d = "/root/testdata/sf0.001"

  private val mix = Seq(
    "q38_ivfpq_ann", "q69_kmeans", "q74_semantic_dedup", "q90_pq_ann",
    "q85_heavy_hitters", "q70_funnel", "q01_group_agg", "q33_text_quality",
    "q40_cosine_topk", "q21_window_lag", "q91_mp4_demux", "q60_repetition_filter")

  /** A query's rows and its executed plan. */
  private def run(q: String): (Seq[Row], SparkPlan) = {
    val df = SparkEntry.queries(q)(spark, d)
    (df.collect().toSeq, df.queryExecution.executedPlan)
  }

  /** The partition counts of the plan's hash and range exchanges as
    * planned, before AQE coalesces them.
    */
  private def exchangeCounts(a: AdaptiveSparkPlanExec): Seq[Int] =
    collect(a.initialPlan) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS =>
        e.outputPartitioning
    }.collect { case p: HashPartitioning => p.numPartitions; case p: RangePartitioning => p.numPartitions }

  test("twelve queries on four threads of one session: serial results, AQE plans") {
    val serial = mix.map(q => q -> run(q)._1).toMap
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val runs = mix.map(q => q -> Future(run(q)))
      val n = spark.sessionState.conf.numShufflePartitions
      for ((q, f) <- runs) {
        val (rows, plan) = Await.result(f, 5.minutes)
        assert(rows === serial(q), s"$q: rows differ from its serial run")
        plan match {
          case a: AdaptiveSparkPlanExec =>
            val counts = exchangeCounts(a)
            assert(counts.nonEmpty && counts.forall(_ == n),
              s"$q: exchanges at $counts partitions, the session's is $n:\n${a.initialPlan}")
          case p =>
            assert(p.find(_.isInstanceOf[Exchange]).isEmpty, s"$q planned without AQE:\n$p")
        }
      }
    } finally {
      pool.shutdownNow()
    }
  }
}
