package graft.similarity

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  private def l2sq6(s: SparkSession, a: String, b: String): Column =
    round(graft.functions.L2Distance.l2_sq(s, a, b), 6)

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Coarse quantizer: (cents (cid, cv), assigned (vec_id, cid, v)) —
    * q69's Lloyd shape with a fixed-K codebook.
    *
    * r17 (job-floor cut + the r15 argmin lesson): the K-row codebook is
    * DRIVER-LOCAL between rounds (it round-tripped the driver inside
    * every broadcast build regardless), so a Lloyd round is ONE action —
    * the update mean collect — and broadcasts cost no job (LocalRelation
    * collects driver-side). Assignment moves from join + groupBy
    * min(struct(dist2, cid, v)) — the Sort + SortAggregate
    * vector-payload trap r15 measured on q69 — to the native per-row
    * `argmin_l2` over the flattened codebook: same (dist2, cid)
    * selection by its pinned contract, vectors never leave their scan
    * partition. Measured r17 start: q38 ran 29 sequential jobs for
    * 1.9 CPU-s (OPTIMIZATION_r17.md) — the wall was the job chain.
    */
  private type Cents = Array[(Int, Array[Double])]
  private def centsRowDf(s: SparkSession, cents: Cents): DataFrame = {
    import org.apache.spark.sql.types._
    s.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(
        cents.map(_._1).toSeq, cents.flatMap(_._2).toSeq)),
      StructType(Seq(
        StructField("cids", ArrayType(IntegerType, containsNull = false)),
        StructField("cvs_flat", ArrayType(DoubleType, containsNull = false)))))
  }
  private def centsDfOf(s: SparkSession, cents: Cents): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      cents.map(c => org.apache.spark.sql.Row(c._1, c._2.toSeq)).toSeq.asJava,
      StructType(Seq(
        StructField("cid", IntegerType, nullable = false),
        StructField("cv", ArrayType(DoubleType, containsNull = false)))))
  }
  private def coarseFit(s: SparkSession, d: String): (Cents, DataFrame) = {
    val e = emb(s, d)
    def assign(cents: Cents): DataFrame =
      e.crossJoin(broadcast(centsRowDf(s, cents)))
        .select(col("vec_id"),
          graft.functions.ArgminL2.argmin_l2(s, "v", "cids", "cvs_flat")
            .getField("cid").as("cid"),
          col("v"))
    def update(assigned: DataFrame): Cents = {
      val rows = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg((sum(round(col("x"), 12).cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("m"))
        .collect()
      rows.groupBy(_.getInt(0)).toArray.sortBy(_._1).map { case (cid, rs) =>
        (cid, rs.sortBy(_.getInt(1)).map(_.getDouble(2)))
      }
    }
    // AQE off for the fit-internal actions (r18, see graft.withAqeOff):
    // init collect + per-round update shuffles are <= K·d slim rows at
    // any scale; the final assignment executes outside, under AQE.
    val cents: Cents = graft.withAqeOff(s) {
      var c: Cents = e.filter(col("vec_id") < IvfK)
        .select(col("vec_id").cast("int").as("cid"), col("v"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      for (_ <- 1 to IvfIters) c = update(assign(c))
      c
    }
    // no checkpoint on the final assignment: its single consumer is the
    // residual split, which IS checkpointed (lazily) in fit below
    (cents, assign(cents))
  }

  /** Residual subvectors (vec_id, ccid, sub, sv): one row per (vector,
    * subspace), sv = the subspace slice of v − coarse centroid.
    */
  private def residualSubs(s: SparkSession, coarse: (Cents, DataFrame)): DataFrame = {
    val (centsLocal, assigned) = coarse
    val cents = centsDfOf(s, centsLocal)
    assigned.join(broadcast(cents), Seq("cid"))
      .select(col("vec_id"), col("cid").as("ccid"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
      .select(col("vec_id"), col("ccid"),
        explode(sequence(lit(0), lit(M - 1))).as("sub"),
        expr(s"slice(r, sub * (size(r) div $M) + 1," +
          s" size(r) div $M)").as("sv"))
  }

  /** PQ codebooks over residuals (sub, cid, cv) + codes (vec_id, ccid,
    * sub, cid).
    */
  private[similarity] type SubCents = Array[(Int, Int, Array[Double])]
  private[similarity] def fitLocal(s: SparkSession, d: String)
      : (Cents, SubCents, DataFrame) = {
    val coarse = coarseFit(s, d)
    // rsub is read by the PQ init collect, every Lloyd round, and the
    // final code assignment — checkpoint the residual split once (N*M
    // slim rows; at cluster scale this is the transient build-side of
    // the index, partitioned by list like the codes it produces). LAZY:
    // the first consumer (the PQ init collect) materializes it inside
    // its own job instead of paying a dedicated eager pass.
    val rsub = residualSubs(s, coarse).localCheckpoint(eager = false)
    // PQ stage over residuals: driver-local codebook, argmin_l2
    // assignment — the same r17 restructure as the coarse stage (and as
    // ProductQuantization.fitLocal), one action per Lloyd round
    def subCentsDf(cents: SubCents): DataFrame = {
      import org.apache.spark.sql.types._
      import scala.jdk.CollectionConverters._
      val rows = cents.groupBy(_._1).toSeq.sortBy(_._1).map { case (sub, cs) =>
        val sorted = cs.sortBy(_._2)
        org.apache.spark.sql.Row(sub,
          sorted.map(_._2).toSeq, sorted.flatMap(_._3).toSeq)
      }
      s.createDataFrame(rows.asJava, StructType(Seq(
        StructField("sub", IntegerType, nullable = false),
        StructField("cids", ArrayType(IntegerType, containsNull = false)),
        StructField("cvs_flat", ArrayType(DoubleType, containsNull = false)))))
    }
    def assign(cents: SubCents): DataFrame =
      rsub.join(broadcast(subCentsDf(cents)), Seq("sub"))
        .select(col("vec_id"), col("ccid"), col("sub"),
          graft.functions.ArgminL2.argmin_l2(s, "sv", "cids", "cvs_flat")
            .getField("cid").as("cid"),
          col("sv"))
    def update(assigned: DataFrame): SubCents = {
      val rows = assigned
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy("sub", "cid", "dim")
        .agg((sum(round(col("x"), 12).cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("m"))
        .collect()
      rows.groupBy(r => (r.getInt(0), r.getInt(1))).toArray
        .sortBy(_._1).map { case ((sub, cid), rs) =>
          (sub, cid, rs.sortBy(_.getInt(2)).map(_.getDouble(3)))
        }
    }
    // AQE off for the PQ-fit actions (r18, see graft.withAqeOff): the
    // init collect (also the job that materializes the rsub checkpoint —
    // a narrow, exchange-free pipeline AQE cannot improve) and the
    // per-round update shuffles (<= M·K·d slim rows at any scale).
    val cents: SubCents = graft.withAqeOff(s) {
      var c: SubCents = rsub.filter(col("vec_id") < PqK)
        .select(col("sub"), col("vec_id").cast("int").as("cid"), col("sv"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .sortBy(c0 => (c0._1, c0._2))
      for (_ <- 1 to PqIters) c = update(assign(c))
      c
    }
    (coarse._1, cents,
      assign(cents).select(col("vec_id"), col("ccid"), col("sub"), col("cid")))
  }
  /** Relational view of [[fitLocal]] — the pre-r17 signature, kept for
    * callers that consume the codebooks as DataFrames (IvfPqSpec).
    */
  private[similarity] def fit(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (ccents, pcents, codes) = fitLocal(s, d)
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val pcentsDf = s.createDataFrame(
      pcents.map(c => org.apache.spark.sql.Row(c._1, c._2, c._3.toSeq)).toSeq.asJava,
      StructType(Seq(
        StructField("sub", IntegerType, nullable = false),
        StructField("cid", IntegerType, nullable = false),
        StructField("cv", ArrayType(DoubleType, containsNull = false)))))
    (centsDfOf(s, ccents), pcentsDf, codes)
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
    val pBySub = pcents.groupBy(_._1)
    val dtRows = for {
      (qid, v) <- qrows.toSeq
      (ccid, cv) <- ccents
        .map { case (cid, cvv) => (l2sq6Local(v, cvv), cid, cvv) }
        .sortBy(t => (t._1, t._2)).take(NProbe)
        .map(t => (t._2, t._3)).toSeq
      r = Array.tabulate(v.length)(i => v(i) - cv(i))
      sub <- 0 until M
      sv = { val sl = r.length / M; r.slice(sub * sl, sub * sl + sl) }
      (_, pcid, pcv) <- pBySub.getOrElse(sub, Array.empty[(Int, Int, Array[Double])]).toSeq
    } yield org.apache.spark.sql.Row(qid, ccid, sub, pcid, l2sq6Local(sv, pcv))
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
      .agg(sum(col("dd").cast("decimal(18,6)")).cast("double").as("adc"))
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
