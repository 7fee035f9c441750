package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** q90 PQ-ADC: codes really are M small ints per vector, the broadcast
  * plan shape holds (codebooks and distance tables broadcast — no
  * sort-merge join anywhere), output is deterministic, and recall against
  * the exact L2 ranking is pinned at a measured floor (PQ is lossy by
  * design; the spec pins HOW lossy on this corpus so a codebook/ADC
  * regression trips while near-tie rank flips do not).
  */
class ProductQuantizationSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val d = "/root/testdata/sf0.001"

  test("codes are M-per-vector with cid < K; fit is deterministic") {
    val (cb, codes) = ProductQuantization.fitLocal(spark, d)
    val cents = Lloyd.codebookDf(spark, cb, Some("sub"))
    val m = ProductQuantization.PqSubspaces
    val perVec = codes.groupBy("vec_id").count().collect()
    assert(perVec.nonEmpty)
    assert(perVec.forall(_.getLong(1) == m), "every vector gets M codes")
    val cids = codes.select("cid").distinct().collect().map(_.getInt(0))
    assert(cids.forall(c => c >= 0 && c < ProductQuantization.PqK))
    assert(cents.count() <= m.toLong * ProductQuantization.PqK)
    // determinism: a second fit assigns identical codes
    val again = ProductQuantization.fitLocal(spark, d)._2
    assert(codes.exceptAll(again).count() === 0)
    assert(again.exceptAll(codes).count() === 0)
  }

  test("plan broadcasts codebook and distance table; no sort-merge join") {
    val df = ProductQuantization.q90PqAnn(spark, d)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan
    val bhj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, s"codebook/dt must broadcast:\n$plan")
    val smj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"no sort-merge join expected:\n$plan")
  }

  test("ADC ranking recalls the exact L2 top-k at the measured floor") {
    // exact L2 top-3 per query (same metric ADC approximates), brute force
    val emb = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val q = emb.filter(col("vec_id") < ProductQuantization.PqNQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val l2 = aggregate(zip_with(col("qv"), col("v"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(asc("d2"), asc("vec_id"))
    val exact = emb.join(broadcast(q), col("qid") =!= col("vec_id"))
      .withColumn("d2", round(l2, 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= ProductQuantization.PqTopK)
      .select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val pq = ProductQuantization.q90PqAnn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq.size === exact.size)
    val hits = pq.intersect(exact).size
    // measured 2026-08-14 on sf0.001: recall floor for M=4/K=16 on this
    // corpus; a genuine codebook/ADC break collapses far below this
    assert(hits >= exact.size / 3,
      s"PQ recall collapsed: $hits/${exact.size} vs exact L2 top-k")
  }
}
