package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** sliding_min ≡ the compositional window-min idiom it replaces
  * (`transform(sequence(1, n-w+1), i -> array_min(slice(arr, i, w)))`)
  * on adversarial long arrays: duplicates, monotone runs, extreme
  * values, exactly-w arrays, shorter-than-w arrays. The winnowing
  * oracles (q48/q81) still run the compositional SQL in DuckDB, so this
  * spec is the Spark-side half of the equivalence; the hash gate is the
  * other half.
  */
class SlidingMinSpec extends SparkSpec {

  import spark.implicits._

  private def compositional(w: Int) =
    when(size(col("a")) >= w,
      transform(sequence(lit(1), size(col("a")) - (w - 1)),
        i => array_min(slice(col("a"), i, lit(w)))))
      .otherwise(array().cast("array<bigint>"))

  private val arrGen: Gen[Seq[Long]] = for {
    k <- Gen.choose(0, 40)
    xs <- Gen.listOfN(k, Gen.oneOf(
      Gen.choose(-5L, 5L), // dense duplicates / ties
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.const(Long.MinValue), Gen.const(Long.MaxValue)))
  } yield xs

  private def samples(n: Int): List[Seq[Long]] = {
    var seed = Seed(4242L)
    val buf = List.newBuilder[Seq[Long]]
    var done = 0
    while (done < n) {
      arrGen.apply(Gen.Parameters.default.withSize(40), seed).foreach { a =>
        buf += a; done += 1
      }
      seed = seed.next
    }
    // deterministic edge cases on top of the generated ones
    buf += Seq.empty[Long]
    buf += Seq(7L)
    buf += (1L to 10L) // strictly increasing: min = leading element
    buf += (10L to 1L by -1L) // strictly decreasing: min = trailing element
    buf += Seq.fill(9)(3L) // all-equal: every window min identical
    buf.result()
  }

  test("native sliding_min equals the compositional idiom") {
    for (w <- Seq(1, 2, 4, 7)) {
      val df = samples(80).toDF("a")
      val got = df.select(
        expr(s"sliding_min(a, $w)").as("fast"),
        compositional(w).as("slow"))
        .collect()
      for (r <- got)
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"w=$w diverged")
    }
  }

  test("null array stays null; null element fails loudly; w >= 1 enforced") {
    val rows = Seq(Some(Seq(1L, 2L)), None).toDF("a")
      .select(expr("sliding_min(a, 2)").as("m")).collect()
    assert(rows.exists(_.isNullAt(0)), "null in, null out")
    assert(rows.find(!_.isNullAt(0)).get.getSeq[Long](0) === Seq(1L))
    val err = intercept[Exception] {
      spark.sql("SELECT sliding_min(array(1L, NULL, 3L), 2)").collect()
    }
    assert(err.getMessage.contains("null element")
      || Option(err.getCause).exists(_.getMessage.contains("null element")))
    assertThrows[Exception] {
      spark.sql("SELECT sliding_min(array(1L, 2L), 0)").collect()
    }
  }

  test("SQL registration works (session extension path)") {
    val m = spark.sql("SELECT sliding_min(array(5L, 3L, 4L, 1L, 2L), 3) AS m")
      .head.getSeq[Long](0)
    assert(m === Seq(3L, 1L, 1L))
  }
}
