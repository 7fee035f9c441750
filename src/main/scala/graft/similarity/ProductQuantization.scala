package graft.similarity

import graft.{Q, Tables}
import graft.functions.DecimalKernels.{dec, dec_sum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization ANN (Jégou, Douze, Schmid, TPAMI 2011) — the
  * missing rung between q87's scalar quantization and a full IVF-PQ
  * stack: split each vector into M subspaces, train a tiny K-centroid
  * codebook per subspace (Lloyd, q69's deterministic conventions), store
  * each vector as M single-byte codes, and answer queries by asymmetric
  * distance computation (ADC): per query, ONE M×K table of exact
  * query-subvector-to-centroid distances, then every candidate's
  * approximate distance is M table lookups summed — no per-candidate
  * float dot product at all.
  *
  * Scale story (the reason PQ is the 100 TB ANN workhorse): the candidate
  * side carries M bytes per vector (64 floats → 4 bytes here, a 64×
  * storage/bandwidth shrink vs float32, 16× vs q87's int8) and the
  * per-query work is a table-lookup sum, so the scan is code-bound, not
  * FLOP-bound. The codebook relation is M·K rows (64 here) and
  * BROADCASTS; Lloyd's update is one map-side-combinable groupBy of
  * (sub, cid, dim, element) rows per round (q69's decimal-mean trick, so
  * centroids are bit-identical at any parallelism); the ADC join
  * broadcasts the M·K·|Q| distance table and the sum is M rounded-6dp
  * DECIMAL(18,6) terms — order-free, which is what lets DuckDB reproduce
  * the ranking cell-exact. Recall versus the exact ranking is pinned by
  * ProductQuantizationSpec (PQ is lossy by design; the spec pins HOW
  * lossy on the sf corpus).
  *
  * Deterministic by construction, q69/q49 conventions throughout:
  * centroids init from the first K vectors' subvectors, distances rounded
  * 6dp BEFORE every argmin/rank with ties on cid/vec_id.
  */
object ProductQuantization {

  val PqSubspaces = 4 // M: 64-dim corpus vectors → 16-dim subvectors
  val PqK = 16        // centroids per subspace → 4-bit codes (demo scale;
                      // production PQ uses K=256 for byte codes — K only
                      // changes the codebook relation size, not the plan)
  val PqIters = 1     // unrolled Lloyd rounds per subspace
  val PqTopK = 3      // q40's top-k convention
  val PqNQueries = 5  // q40's query set: vec_id < 5

  private def l2sq6(a: String, b: String): Column =
    round(graft.functions.L2Distance.l2_sq(a, b), 6)

  /** (vec_id, sub, sv): each vector split into M contiguous subvectors —
    * sublen derived in-row from the array length so Spark and the
    * generated SQL cannot disagree on the split.
    */
  private[similarity] def subVectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqSubspaces - 1))).as("sub"),
        expr(s"slice(v, sub * (size(v) div $PqSubspaces) + 1," +
          s" size(v) div $PqSubspaces)").as("sv"))

  /** Codebooks (sub, cid, cv) after PqIters Lloyd rounds, plus the fitted
    * codes (vec_id, sub, cid). One [[Lloyd]] fit grouped by `sub` trains
    * all M codebooks in the same jobs — no per-subspace plan duplication.
    */
  private[similarity] def fitLocal(s: SparkSession, d: String)
      : (Lloyd.Codebook, DataFrame) = {
    val subv = subVectors(s, d)
    val cents = Lloyd.fit(s, subv, "sv", Some("sub"), PqK, PqIters)
    (cents, Lloyd.assign(s, subv, "sv", Some("sub"), cents)
      .select(col("vec_id"), col("sub"), col("cid")))
  }

  // ---------------------------------------------------------------------------
  // q90 — PQ-ADC top-k: q40's query set (vec_id < 5, top 3, self excluded)
  // answered from codes + one broadcast distance table. `adc` sums M
  // rounded-6dp DECIMAL(18,6) lookups — exact and order-free, so the
  // (adc, nid) ranking is identical in both engines.
  val q90PqAnn: Q = (s, d) => {
    val (centsLocal, codes) = fitLocal(s, d)
    // a LocalRelation, but its broadcast build is still a job: at sf0.001
    // collecting qsub alone runs 1 job, joined to broadcast(cents) 2
    val cents = Lloyd.codebookDf(s, centsLocal, Some("sub"))
    val qsub = subVectors(s, d).filter(col("vec_id") < PqNQueries)
      .select(col("vec_id").as("qid"), col("sub"), col("sv"))
    val dt = qsub.join(broadcast(cents), Seq("sub"))
      .select(col("qid"), col("sub"), col("cid"),
        l2sq6("sv", "cv").as("dd")) // |Q|·M·K rows, data-independent
    val w = Window.partitionBy("qid").orderBy(asc("adc"), asc("nid"))
    codes.join(broadcast(dt), Seq("sub", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(dec_sum(dec(col("dd"), 18, 6)).cast("double").as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PqTopK)
      .select("qid", "rank", "nid", "adc")
      .orderBy("qid", "rank")
  }

  // Oracle: the same fit, generated so constants cannot drift.
  private def sqL2(a: String, b: String): String =
    s"""round((SELECT sum((z.a - z.b) * (z.a - z.b))
       |       FROM (SELECT unnest($a) AS a, unnest($b) AS b) z), 6)""".stripMargin
  private def assignCte(i: Int, cents: String): String =
    s"""sc$i AS (
       |  SELECT e.vec_id, e.sub, e.sv, c.cid, ${sqL2("e.sv", "c.cv")} AS dist2
       |  FROM subv e JOIN $cents c ON e.sub = c.sub),
       |a$i AS (
       |  SELECT vec_id, sub, sv, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY dist2, cid) AS rk FROM sc$i)
       |  WHERE rk = 1)""".stripMargin
  private def updateCte(i: Int): String =
    s"""dx$i AS (
       |  SELECT sub, cid, unnest(range(len(sv))) AS d, sv FROM a$i),
       |dm$i AS (
       |  SELECT sub, cid, d,
       |    CAST(sum(CAST(round(sv[d + 1], 12) AS DECIMAL(28,12))) AS DOUBLE)
       |      / count(*) AS m
       |  FROM dx$i GROUP BY sub, cid, d),
       |c$i AS (SELECT sub, cid, list(m ORDER BY d) AS cv FROM dm$i GROUP BY sub, cid)""".stripMargin

  val q90Sql: String = {
    val rounds = (1 to PqIters)
      .map(i => assignCte(i, if (i == 1) "c0" else s"c${i - 1}") + ",\n" +
        updateCte(i))
      .mkString(",\n")
    s"""WITH embd AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |subv AS (
       |  SELECT vec_id, sub,
       |    v[sub * (len(v) // $PqSubspaces) + 1 :
       |      (sub + 1) * (len(v) // $PqSubspaces)] AS sv
       |  FROM embd CROSS JOIN (SELECT unnest(range($PqSubspaces)) AS sub)),
       |c0 AS (
       |  SELECT sub, CAST(vec_id AS INTEGER) AS cid, sv AS cv
       |  FROM subv WHERE vec_id < $PqK),
       |$rounds,
       |${assignCte(PqIters + 1, s"c$PqIters")},
       |qs AS (SELECT vec_id AS qid, sub, sv FROM subv WHERE vec_id < $PqNQueries),
       |dt AS (
       |  SELECT q.qid, c.sub, c.cid, ${sqL2("q.sv", "c.cv")} AS dd
       |  FROM qs q JOIN c$PqIters c ON q.sub = c.sub),
       |adc AS (
       |  SELECT t.qid, a.vec_id AS nid,
       |    CAST(sum(CAST(t.dd AS DECIMAL(18,6))) AS DOUBLE) AS adc
       |  FROM a${PqIters + 1} a JOIN dt t ON a.sub = t.sub AND a.cid = t.cid
       |  WHERE t.qid <> a.vec_id
       |  GROUP BY t.qid, a.vec_id),
       |ranked AS (
       |  SELECT qid, nid, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rank
       |  FROM adc)
       |SELECT qid, rank, nid, adc FROM ranked WHERE rank <= $PqTopK
       |ORDER BY qid, rank""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q90_pq_ann" -> q90PqAnn)

  val oracles: Map[String, String] = Map(
    "q90_pq_ann" -> q90Sql)
}
