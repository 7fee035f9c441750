package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** int8_quantize: bit-for-bit agreement with the compositional
  * transform-lambda definition it replaced (the q87 oracle's spelling),
  * plus the edge contracts the lambda form implied.
  */
class Int8QuantizeSpec extends SparkSpec {

  import spark.implicits._

  /** The original compositional form (kept here as the pinned semantics —
    * the production path must never drift from it).
    */
  private def compositional(emb: org.apache.spark.sql.Column) = {
    val m = greatest(array_max(transform(emb, x => abs(x.cast("double")))),
      lit(1e-30))
    transform(emb, x =>
      floor(x.cast("double") * lit(127.0) / m + lit(0.5)).cast("tinyint"))
  }

  test("agrees with the compositional form on random float vectors") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 500).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = rows.toDF("id", "v")
      .select(col("id"),
        Int8Quantize.int8_quantize("v").as("native"),
        compositional(col("v")).as("composed"))
    val bad = df.filter(not(col("native") <=> col("composed"))).count()
    assert(bad == 0, s"$bad rows disagree with the compositional form")
  }

  test("edge vectors: all-zero -> zeros; extremes hit +-127; empty -> empty") {
    val df = Seq(
      (1L, Array(0f, 0f, 0f)),
      (2L, Array(1f, -1f, 0.5f)),
      (3L, Array.empty[Float])
    ).toDF("id", "v")
      .select(col("id"), Int8Quantize.int8_quantize("v").as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(df(1L) == Seq[Byte](0, 0, 0))
    assert(df(2L) == Seq[Byte](127, -127, 64))
    assert(df(3L) == Seq.empty[Byte])
  }

  test("null vector -> null; null element -> null (the lambda-form contract)") {
    val df = spark.sql(
      "SELECT int8_quantize(CAST(null AS array<double>)) AS a, " +
        "int8_quantize(array(1.0d, CAST(null AS double))) AS b")
    val r = df.collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("NaN element -> null (degenerate-input contract, r15 ADVICE)") {
    val df = spark.sql(
      "SELECT int8_quantize(array(1.0d, CAST('NaN' AS double))) AS a, " +
        "int8_quantize(array(float('NaN'))) AS b")
    val r = df.collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("cosine over quantized arrays matches the exact int64 formulation") {
    // int8 products/norms are exact in double (<< 2^53), so the fused
    // cosine must equal dot/sqrt(na*nb) computed in int64 — per pair
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val q = rows.toDF("id", "v")
      .select(col("id"), Int8Quantize.int8_quantize("v").as("qv"))
    val pairs = q.as("a").crossJoin(q.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(
        CosineSimilarity.cosine_similarity("a.qv", "b.qv").as("fused"),
        (aggregate(zip_with(col("a.qv"), col("b.qv"),
          (x, y) => x.cast("long") * y.cast("long")), lit(0L), _ + _)
          .cast("double") /
          (sqrt(aggregate(col("a.qv"), lit(0L),
            (acc, x) => acc + x.cast("long") * x.cast("long")).cast("double")) *
            sqrt(aggregate(col("b.qv"), lit(0L),
              (acc, x) => acc + x.cast("long") * x.cast("long")).cast("double"))))
          .as("exact"))
    val bad = pairs.filter(not(col("fused") <=> col("exact"))).count()
    assert(bad == 0, s"$bad pairs: fused cosine != exact int64 formulation")
  }
}
