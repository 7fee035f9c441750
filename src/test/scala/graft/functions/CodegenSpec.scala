package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._

/** The native expressions are the per-row inner loop of 100 TB
  * dedup/ANN — they must participate in whole-stage codegen, not fall back
  * to interpreted eval with InternalRow boxing. CODEGEN_ONLY makes any
  * codegen failure throw instead of silently falling back, so these tests
  * prove the generated code path compiles (Janino) and agrees with the
  * interpreted path (NO_CODEGEN).
  */
class CodegenSpec extends SparkSpec {

  import spark.implicits._

  test("native expressions no longer declare CodegenFallback") {
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[MinHashSignature]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[MinHashFromText]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[TextShingles]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[TextShingleHashes]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[BigramHashCounts]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[DsirBucketCounts]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[TextStats]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[SimHash64]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[RandomHyperplaneSignature]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[CosineSimilarity]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[L2Distance]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[DecimalCast]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[DecimalMultiply]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[DecimalSum]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[Int128Decimal]))
  }

  private def withFactoryMode[A](mode: String)(body: => A): A = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def allFour() = {
    Seq(
      (1L, Seq("a b c", "b c d", "c d e"), Seq(1.0f, 0.0f, 2.0f), Seq(1.0f, 1.0f, 2.0f)),
      (2L, Seq("x y z"), Seq(-1.0f, 3.0f, 0.5f), Seq(0.0f, 0.0f, 0.0f)),
      (3L, Seq.empty[String], Seq(0.25f, -0.5f, 1.5f), Seq(4.0f, 2.0f, -1.0f)))
      .toDF("id", "shingles", "vec_a", "vec_b")
      .withColumn("txt", concat_ws(" 𝄞  ", col("shingles")))
      .selectExpr("id",
        "minhash_signature(shingles, 8) AS mh",
        "minhash_text(concat_ws(' ', shingles), 8) AS mht",
        "simhash64(shingles) AS sh",
        "rh_signature(vec_a, 16) AS rh",
        "cosine_similarity(vec_a, vec_b) AS cos",
        "l2_sq(vec_a, vec_b) AS l2",
        // the text kernels (TextKernel), compared as whole values below
        "text_shingles(txt, 2)", "text_shingle_hashes(txt, 2)",
        "text_shingle_hash64s(txt, 3)", "text_shingle_md5p32s(txt, 1)",
        "bigram_hash_counts(txt)", "dsir_bucket_counts(txt, 8)",
        "text_stats(txt, 'a', 'x')")
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) null else r.getDouble(5),
        if (r.isNullAt(6)) null else r.getDouble(6),
        r.toSeq.drop(7)))
  }

  test("generated code compiles and matches interpreted eval") {
    val generated = withFactoryMode("CODEGEN_ONLY")(allFour())
    val interpreted = withFactoryMode("NO_CODEGEN")(allFour())
    assert(generated.toSeq === interpreted.toSeq)
    // zero-vector row: cosine must be null on both paths
    assert(generated(1)._6 === null)
    // l2_sq known vector: (1,0,2) vs (1,1,2) -> 1.0
    assert(generated(0)._7 === 1.0)
    // the text kernels produced values, not nulls, on every row
    assert(generated.forall(_._8.forall(_ != null)))
  }
}
