package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q38 IVF-PQ: the index really is inverted-list shaped (every vector in
  * exactly one list, M codes each), search honors IVF semantics (every
  * reported neighbor comes from the query's probed lists — and nothing
  * from outside them), output is deterministic, and recall against the
  * exact L2 ranking holds a measured floor (nprobe trades recall for
  * candidate volume; the spec pins the trade on this corpus).
  */
class IvfPqSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("index shape: one list per vector, M codes, bounded ids") {
    val (ccb, pcb, codes) = IvfPq.fitLocal(spark, d)
    val ccents = Lloyd.codebookDf(spark, ccb, None)
    val pcents = Lloyd.codebookDf(spark, pcb, Some("sub"))
    val m = ProductQuantization.PqSubspaces
    val perVec = codes.groupBy("vec_id")
      .agg(count(lit(1)).as("n"), countDistinct("ccid").as("lists"))
      .collect()
    assert(perVec.nonEmpty)
    assert(perVec.forall(r => r.getLong(1) == m && r.getLong(2) == 1L),
      "every vector: M codes, exactly one inverted list")
    assert(ccents.count() <= IvfPq.IvfK)
    assert(pcents.count() <= m.toLong * ProductQuantization.PqK)
  }

  test("search honors IVF semantics: neighbors only from probed lists") {
    val (ccb, _, codes) = IvfPq.fitLocal(spark, d)
    val ccents = Lloyd.codebookDf(spark, ccb, None)
    val lists = codes.select("vec_id", "ccid").distinct().collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // recompute each query's probed lists the same way the query does
    val emb = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val qv = emb.filter(col("vec_id") < ProductQuantization.PqNQueries)
      .select(col("vec_id").as("qid"), col("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(asc("dist2"), asc("cid"))
    val probed = qv.crossJoin(broadcast(ccents))
      .withColumn("dist2",
        round(graft.functions.L2Distance.l2_sq("v", "cv"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= IvfPq.NProbe)
      .select("qid", "cid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getInt(1)).toSet }

    val out = IvfPq.q38IvfPqAnn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.nonEmpty)
    for ((qid, nid) <- out)
      assert(probed(qid).contains(lists(nid)),
        s"neighbor $nid of query $qid lies outside the probed lists")
  }

  test("deterministic output; recall vs exact L2 at the measured floor") {
    val r1 = IvfPq.q38IvfPqAnn(spark, d).collect().toSeq
    val r2 = IvfPq.q38IvfPqAnn(spark, d).collect().toSeq
    assert(r1 === r2)

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
    val got = r1.map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = got.intersect(exact).size
    // IVF-PQ is doubly lossy (probing + residual codes); a genuine break
    // collapses to ~zero overlap
    assert(hits >= exact.size / 5,
      s"IVF-PQ recall collapsed: $hits/${exact.size}")
  }
}
