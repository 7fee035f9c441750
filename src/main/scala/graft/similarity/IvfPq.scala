package graft.similarity

import graft.{Q, Tables}
import graft.functions.DecimalKernels.{dec, dec_sum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ — the production 100 TB ANN layout (FAISS IVFPQ; Jégou et al.
  * TPAMI 2011 §V): a coarse quantizer partitions the corpus into inverted
  * lists, each vector is stored in ITS list as the PQ code of its
  * RESIDUAL (v − coarse centroid), and a query scans only the `nprobe`
  * nearest lists, scoring candidates by asymmetric distance computation
  * against a per-(query, probed-list) lookup table built from the QUERY's
  * residual in that list.
  *
  * Why this is the scale path: q40/q87 scan every vector per query; q49
  * prunes lists but still stores floats; q90 shrinks storage but still
  * scans everything. IVF-PQ does both — candidate volume drops to
  * ~nprobe/K of the corpus AND each candidate costs M table lookups over
  * M-byte codes. At cluster scale the inverted lists are the partition
  * layout (list id = partition key), so a query touches nprobe partitions
  * and the per-list scan is sequential code reads.
  *
  * Everything deterministic by the house conventions (q69/q90): first-K
  * centroid init, 6dp-rounded distances before every argmin/rank with
  * ties on id, decimal-mean Lloyd updates, ADC as M rounded-6dp
  * DECIMAL(18,6) lookups summed (order-free) — so DuckDB reproduces the
  * whole pipeline, coarse lists included, cell-exact. True IVF semantics
  * on the hard gate: a candidate outside the probed lists is absent from
  * the output even when its true distance is small — recall vs the exact
  * ranking (the quantity nprobe trades) is pinned by IvfPqSpec.
  */
object IvfPq {

  val IvfK = 16    // coarse lists (demo scale; production uses ~√N lists)
  val IvfIters = 1 // unrolled Lloyd rounds, coarse quantizer
  val NProbe = 2   // lists scanned per query
  // PQ stage shares ProductQuantization's constants (M=4, K=16, 1 round)
  private val M = ProductQuantization.PqSubspaces
  private val PqK = ProductQuantization.PqK
  private val PqIters = ProductQuantization.PqIters
  private val TopK = ProductQuantization.PqTopK
  private val NQ = ProductQuantization.PqNQueries

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Residual subvectors (vec_id, ccid, sub, sv): one row per (vector,
    * subspace), sv = the subspace slice of v − coarse centroid.
    */
  private def residualSubs(s: SparkSession, assigned: DataFrame,
      coarse: Lloyd.Codebook): DataFrame =
    assigned.join(broadcast(Lloyd.codebookDf(s, coarse, None)), Seq("cid"))
      .select(col("vec_id"), col("cid").as("ccid"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
      .select(col("vec_id"), col("ccid"),
        explode(sequence(lit(0), lit(M - 1))).as("sub"),
        expr(s"slice(r, sub * (size(r) div $M) + 1," +
          s" size(r) div $M)").as("sv"))

  /** The coarse codebook (cid, cv), the residual-PQ codebooks
    * (sub, cid, cv), and the codes (vec_id, ccid, sub, cid): two [[Lloyd]]
    * fits, the second grouped by `sub` over the residual split.
    */
  private[similarity] def fitLocal(s: SparkSession, d: String)
      : (Lloyd.Codebook, Lloyd.Codebook, DataFrame) = {
    val e = emb(s, d)
    val coarse = Lloyd.fit(s, e, "v", None, IvfK, IvfIters)
    // rsub is read by the PQ init collect, every Lloyd round, and the
    // final code assignment — checkpoint the residual split once (N*M
    // slim rows; at cluster scale this is the transient build-side of
    // the index, partitioned by list like the codes it produces). LAZY:
    // the first consumer (the PQ init collect) materializes it inside
    // its own job instead of paying a dedicated eager pass.
    val rsub = residualSubs(s, Lloyd.assign(s, e, "v", None, coarse), coarse)
      .localCheckpoint(eager = false)
    val pq = Lloyd.fit(s, rsub, "sv", Some("sub"), PqK, PqIters)
    (coarse, pq, Lloyd.assign(s, rsub, "sv", Some("sub"), pq)
      .select(col("vec_id"), col("ccid"), col("sub"), col("cid")))
  }

  // ---------------------------------------------------------------------------
  // q38 — IVF-PQ ADC top-k: q40's query set (vec_id < 5, top 3, self
  // excluded), candidates restricted to each query's nprobe=2 nearest
  // coarse lists, scored by residual-PQ lookup sums. The broadcast
  // distance table is |Q|·nprobe·M·K rows, data-independent; the
  // candidate side joins on (ccid, sub, cid) so non-probed lists drop
  // before any aggregation.
  val q38IvfPqAnn: Q = (s, d) => {
    val (ccents, pcents, codes) = fitLocal(s, d)
    // The ADC distance table is |Q|·nprobe·M·K rows of DATA-INDEPENDENT
    // size over the |Q| collected query vectors and the driver-local
    // codebooks, so it is computed here in plain Scala (r17 job-floor
    // cut: the relational form ran a window-ranked crossJoin + residual
    // explode + codebook join as its own multi-stage broadcast-build
    // subplan). Arithmetic is replicated bit-for-bit: l2sq6 is the same
    // in-element-order (a-b)² fold as L2Distance.compute followed by
    // exactly Spark's round(x, 6) (BigDecimal.valueOf + HALF_UP — the
    // ArgminL2 idiom); probed-list ranking sorts by (dist2, cid) like
    // the row_number window it replaces; residuals and subvector slices
    // are the same IEEE subtractions and integer-div slice bounds.
    def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def l2sq6Local(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { val dd = a(i) - b(i); acc += dd * dd; i += 1 }
      round6(acc)
    }
    val qrows = emb(s, d).filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val pBySub = pcents.groupBy(_.group)
    val dtRows = for {
      (qid, v) <- qrows.toSeq
      (ccid, cv) <- ccents
        .map(c => (l2sq6Local(v, c.cv), c.cid, c.cv))
        .sortBy(t => (t._1, t._2)).take(NProbe)
        .map(t => (t._2, t._3)).toSeq
      r = Array.tabulate(v.length)(i => v(i) - cv(i))
      sub <- 0 until M
      sv = { val sl = r.length / M; r.slice(sub * sl, sub * sl + sl) }
      p <- pBySub.getOrElse(sub, Array.empty[Lloyd.Centroid]).toSeq
    } yield org.apache.spark.sql.Row(qid, ccid, sub, p.cid, l2sq6Local(sv, p.cv))
    val dt = {
      import org.apache.spark.sql.types._
      import scala.jdk.CollectionConverters._
      s.createDataFrame(dtRows.asJava, StructType(Seq(
        StructField("qid", LongType, nullable = false),
        StructField("ccid", IntegerType, nullable = false),
        StructField("sub", IntegerType, nullable = false),
        StructField("cid", IntegerType, nullable = false),
        StructField("dd", DoubleType, nullable = false))))
    }
    val w = Window.partitionBy("qid").orderBy(asc("adc"), asc("nid"))
    codes.join(broadcast(dt), Seq("ccid", "sub", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(dec_sum(dec(col("dd"), 18, 6)).cast("double").as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("qid", "rank", "nid", "adc")
      .orderBy("qid", "rank")
  }

  // Oracle: the full pipeline generated — coarse Lloyd, residuals,
  // residual-PQ Lloyd, probing, ADC — so constants cannot drift.
  private def sqL2(a: String, b: String): String =
    s"""round((SELECT sum((z.a - z.b) * (z.a - z.b))
       |       FROM (SELECT unnest($a) AS a, unnest($b) AS b) z), 6)""".stripMargin

  private def coarseAssignCte(i: Int, cents: String): String =
    s"""csc$i AS (
       |  SELECT e.vec_id, e.v, c.cid, ${sqL2("e.v", "c.cv")} AS dist2
       |  FROM embd e CROSS JOIN $cents c),
       |ca$i AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist2, cid) AS rk FROM csc$i)
       |  WHERE rk = 1)""".stripMargin
  private def coarseUpdateCte(i: Int): String =
    s"""cdx$i AS (
       |  SELECT cid, unnest(range(len(v))) AS d, v FROM ca$i),
       |cdm$i AS (
       |  SELECT cid, d,
       |    CAST(sum(CAST(round(v[d + 1], 12) AS DECIMAL(28,12))) AS DOUBLE)
       |      / count(*) AS m
       |  FROM cdx$i GROUP BY cid, d),
       |cc$i AS (SELECT cid, list(m ORDER BY d) AS cv FROM cdm$i GROUP BY cid)""".stripMargin
  private def pqAssignCte(i: Int, cents: String): String =
    s"""psc$i AS (
       |  SELECT e.vec_id, e.ccid, e.sub, e.sv, c.cid,
       |    ${sqL2("e.sv", "c.cv")} AS dist2
       |  FROM rsub e JOIN $cents c ON e.sub = c.sub),
       |pa$i AS (
       |  SELECT vec_id, ccid, sub, sv, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY dist2, cid) AS rk FROM psc$i)
       |  WHERE rk = 1)""".stripMargin
  private def pqUpdateCte(i: Int): String =
    s"""pdx$i AS (
       |  SELECT sub, cid, unnest(range(len(sv))) AS d, sv FROM pa$i),
       |pdm$i AS (
       |  SELECT sub, cid, d,
       |    CAST(sum(CAST(round(sv[d + 1], 12) AS DECIMAL(28,12))) AS DOUBLE)
       |      / count(*) AS m
       |  FROM pdx$i GROUP BY sub, cid, d),
       |pc$i AS (SELECT sub, cid, list(m ORDER BY d) AS cv FROM pdm$i GROUP BY sub, cid)""".stripMargin

  val q38Sql: String = {
    val coarseRounds = (1 to IvfIters)
      .map(i => coarseAssignCte(i, if (i == 1) "cc0" else s"cc${i - 1}") +
        ",\n" + coarseUpdateCte(i))
      .mkString(",\n")
    val pqRounds = (1 to PqIters)
      .map(i => pqAssignCte(i, if (i == 1) "pc0" else s"pc${i - 1}") +
        ",\n" + pqUpdateCte(i))
      .mkString(",\n")
    s"""WITH embd AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cc0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv
       |  FROM embd WHERE vec_id < $IvfK),
       |$coarseRounds,
       |${coarseAssignCte(IvfIters + 1, s"cc$IvfIters")},
       |res AS (
       |  SELECT a.vec_id, a.cid AS ccid,
       |    list_transform(range(len(a.v)), i -> a.v[i + 1] - c.cv[i + 1]) AS r
       |  FROM ca${IvfIters + 1} a JOIN cc$IvfIters c ON a.cid = c.cid),
       |rsub AS (
       |  SELECT vec_id, ccid, sub,
       |    r[sub * (len(r) // $M) + 1 : (sub + 1) * (len(r) // $M)] AS sv
       |  FROM res CROSS JOIN (SELECT unnest(range($M)) AS sub)),
       |pc0 AS (
       |  SELECT sub, CAST(vec_id AS INTEGER) AS cid, sv AS cv
       |  FROM rsub WHERE vec_id < $PqK),
       |$pqRounds,
       |${pqAssignCte(PqIters + 1, s"pc$PqIters")},
       |qv AS (SELECT vec_id AS qid, v FROM embd WHERE vec_id < $NQ),
       |qcd AS (
       |  SELECT q.qid, c.cid, c.cv, ${sqL2("q.v", "c.cv")} AS dist2
       |  FROM qv q CROSS JOIN cc$IvfIters c),
       |qc AS (
       |  SELECT qid, cid AS ccid, cv FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY dist2, cid) AS rk FROM qcd)
       |  WHERE rk <= $NProbe),
       |qrsub AS (
       |  SELECT x.qid, x.ccid, sub,
       |    rr[sub * (len(rr) // $M) + 1 : (sub + 1) * (len(rr) // $M)] AS sv
       |  FROM (
       |    SELECT x.qid, x.ccid,
       |      list_transform(range(len(q.v)), i -> q.v[i + 1] - x.cv[i + 1]) AS rr
       |    FROM qc x JOIN qv q ON q.qid = x.qid) x
       |  CROSS JOIN (SELECT unnest(range($M)) AS sub)),
       |dt AS (
       |  SELECT s.qid, s.ccid, c.sub, c.cid, ${sqL2("s.sv", "c.cv")} AS dd
       |  FROM qrsub s JOIN pc$PqIters c ON s.sub = c.sub),
       |adc AS (
       |  SELECT t.qid, a.vec_id AS nid,
       |    CAST(sum(CAST(t.dd AS DECIMAL(18,6))) AS DOUBLE) AS adc
       |  FROM pa${PqIters + 1} a
       |  JOIN dt t ON a.ccid = t.ccid AND a.sub = t.sub AND a.cid = t.cid
       |  WHERE t.qid <> a.vec_id
       |  GROUP BY t.qid, a.vec_id),
       |ranked AS (
       |  SELECT qid, nid, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rank
       |  FROM adc)
       |SELECT qid, rank, nid, adc FROM ranked WHERE rank <= $TopK
       |ORDER BY qid, rank""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q38_ivfpq_ann" -> q38IvfPqAnn)

  val oracles: Map[String, String] = Map(
    "q38_ivfpq_ann" -> q38Sql)
}
