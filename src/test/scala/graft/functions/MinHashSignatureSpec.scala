package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MinHashSignatureSpec extends SparkSpec {

  import spark.implicits._

  test("native signature is deterministic, k-slot, input-sensitive") {
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("x y z")),
      (3L, Seq.empty[String])).toDF("id", "shingles")
    val native = df.withColumn("sig",
      MinHashSignature.minhash_signature("shingles", 8))
    val rows = native.select("id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rows(1L).length === 8)
    val again = native.select("id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rows === again)
    assert(rows(1L) !== rows(2L))
    assert(rows(3L).forall(_ === Long.MaxValue)) // empty set
  }

  test("signature agreement estimates jaccard (minhash property)") {
    def shingles(tokens: Seq[String]) =
      tokens.sliding(3).map(_.mkString(" ")).toSeq.distinct
    val base = (1 to 50).map(i => s"w$i")
    val near = (1 to 48).map(i => s"w$i") :+ "X" :+ "Y"
    val df = Seq((1L, shingles(base)), (2L, shingles(near)),
      (3L, shingles((1 to 50).map(i => s"z$i"))))
      .toDF("id", "shingles")
    val sig = df.withColumn("sig",
        MinHashSignature.minhash_signature("shingles", 64))
      .select("id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y } / 64.0
    assert(agree(sig(1L), sig(2L)) > 0.7)  // true jaccard ~ 46/50
    assert(agree(sig(1L), sig(3L)) < 0.2)  // disjoint
  }

  test("registered function is callable from SQL text") {
    Seq((1L, Seq("a b c", "d e f"))).toDF("id", "shingles")
      .createOrReplaceTempView("mh_docs")
    val viaSql = spark.sql(
      "SELECT id, minhash_signature(shingles, 4) AS sig FROM mh_docs").head()
    assert(viaSql.getSeq[Long](1).length === 4)
  }

  test("null array yields null signature") {
    val df = spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS shingles")
    assert(df.selectExpr("minhash_signature(shingles, 4)").head().isNullAt(0))
  }

  test("k < 1 fails on the driver before any task runs, naming the function") {
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    for (k <- Seq(0, -1); fn <- Seq("minhash_text", "minhash_signature")) {
      val arg = if (fn == "minhash_text") "'a b c'" else "array('a b c')"
      var err: Throwable = null
      val jobs = jobsOf {
        err = intercept[Exception](spark.sql(s"SELECT $fn($arg, $k)").collect())
      }
      assert(jobs === 0L, s"$fn($k) ran a job")
      assert(messages(err).contains(fn), messages(err))
    }
    assert(intercept[IllegalArgumentException](MinHashFromText.minhash_text("text", 0))
      .getMessage.contains("minhash_text"))
    assert(intercept[IllegalArgumentException](MinHashSignature.minhash_signature("sh", 0))
      .getMessage.contains("minhash_signature"))
  }
}
