package graft.similarity

import graft.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar-quantized (int8) similarity search — the memory/bandwidth scale
  * path for the brute-force ANN baseline (q40). Per-vector symmetric
  * quantization: scale = 127/max|v|, q_i = floor(v_i*scale + 0.5), stored
  * as `array<tinyint>` so every exchanged/broadcast row carries 1 byte per
  * dimension instead of 4 (float) — at 100 TB of embeddings the candidate
  * side is scan-bound and the query side broadcast shrinks 4×, which is
  * the difference between a fits-in-memory broadcast and a shuffle. The
  * per-vector scales cancel inside cosine, so the quantized score is
  * computable from the int arrays alone: dot and norms are EXACT int64
  * sums (order-free — no float accumulation nondeterminism anywhere
  * before the final division), making the whole path oracle-checkable
  * cell-exact, unlike a float-dot approximation.
  *
  * Both halves run native codegen'd expressions: encoding is
  * [[graft.functions.Int8Quantize]] (the compositional transform-lambda
  * form re-evaluated the O(d) max|v| reduction per element — O(d²)
  * interpreted evals per row, ~20 s of the r15 board's 27.6 s cell), and
  * the per-pair score is the fused [[graft.functions.CosineSimilarity]]
  * (the zip_with + aggregate chain was interpreted per candidate pair —
  * higher-order functions are CodegenFallback, the q76-predicate lesson).
  *
  * Quality contract: int8 symmetric quantization perturbs each cosine by
  * O(1/127) relative; QuantizedAnnSpec measures recall@3 against q40's
  * exact ranking on the sf corpus and pins the floor. Reference scope:
  * the ANN surface of the reference's similarity service (same family as
  * q40/q49/q51) with the quantized storage every production vector store
  * (FAISS SQ8 et al.) ships.
  */
object QuantizedAnn {


  // ---------------------------------------------------------------------------
  // q87 — int8 brute-force cosine top-k: q40's query set (vec_id < 5, top 3
  // neighbors each) on quantized vectors. Rounded to 6dp BEFORE ranking so
  // Spark and DuckDB rank identical values identically (the q40 rule).
  val q87Int8Ann: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"),
        graft.functions.Int8Quantize.int8_quantize("embedding").as("qv"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("qv").as("qa"))
    val cand = emb
      .select(col("vec_id").as("nid"), col("qv").as("qb"))
    // The per-pair score runs the native fused cosine (one codegen'd pass
    // over the two int8 arrays — exact: every partial sum is an integer
    // far below 2^53). The original zip_with + aggregate chain was
    // interpreted per pair (higher-order functions are CodegenFallback —
    // the q76-predicate lesson), and at the 100x board it made this
    // 1M-pair brute force a 27.6 s cell with 1.6x parallelism; the int64
    // qnorm columns it needed are gone with it (the fused pass computes
    // norms in the same walk).
    val w = Window.partitionBy("qid").orderBy(desc("cosine_q"), asc("nid"))
    cand.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cosine_q",
        round(graft.functions.CosineSimilarity
          .cosine_similarity("qa", "qb"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("qid", "rank", "nid", "cosine_q")
      .orderBy("qid", "rank")
  }

  val q87Sql: String =
    """WITH base AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(
      |      CAST(x AS DOUBLE) * 127.0 / greatest(
      |        list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))),
      |        1e-30) + 0.5) AS TINYINT)) AS qv
      |  FROM embeddings),
      |normed AS (
      |  SELECT vec_id, qv,
      |    (SELECT sum(CAST(a AS BIGINT) * CAST(a AS BIGINT))
      |     FROM (SELECT unnest(qv) AS a)) AS qn
      |  FROM base),
      |q AS (SELECT vec_id AS qid, qv AS qa, qn AS na FROM normed WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid, n.vec_id AS nid,
      |    CASE WHEN q.na > 0 AND n.qn > 0 THEN
      |      round(
      |        CAST((SELECT sum(CAST(a AS BIGINT) * CAST(b AS BIGINT))
      |              FROM (SELECT unnest(q.qa) AS a, unnest(n.qv) AS b)) AS DOUBLE)
      |        / (sqrt(CAST(q.na AS DOUBLE)) * sqrt(CAST(n.qn AS DOUBLE))), 6)
      |    END AS cosine_q
      |  FROM normed n CROSS JOIN q WHERE n.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, nid, cosine_q,
      |    row_number() OVER (PARTITION BY qid ORDER BY cosine_q DESC, nid ASC) AS rank
      |  FROM scored)
      |SELECT qid, rank, nid, cosine_q FROM ranked WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin

  val queries: Map[String, Q] = Map(
    "q87_int8_ann" -> q87Int8Ann)

  val oracles: Map[String, String] = Map(
    "q87_int8_ann" -> q87Sql)
}
