package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** text_shingles ≡ the compositional HOF idiom it replaces, on adversarial
  * strings ([[AdversarialText]]). The oracle side of
  * q58/q85/q86 still runs the compositional SQL, so this spec is the
  * Spark-side half of the equivalence; the hash gate is the other half.
  */
class TextShinglesSpec extends SparkSpec {

  import spark.implicits._

  test("native shingles equal the compositional idiom on adversarial text") {
    for (n <- Seq(1, 2, 3, 8)) {
      val df = AdversarialText.texts(60, 1337L).toDF("text")
      val got = df.select(
        TextShingles.text_shingles("text", n).as("a"),
        AdversarialText.compositional(col("text"), n).as("b"))
        .collect()
      for (r <- got)
        assert(r.getSeq[String](0) === r.getSeq[String](1),
          s"n=$n diverged")
    }
  }

  test("null text stays null; duplicates are kept") {
    val df = Seq(Some("a b a b a"), None).toDF("text")
    val rows = df.select(TextShingles.text_shingles("text", 2).as("s"))
      .collect()
    assert(rows.exists(_.isNullAt(0)), "null in, null out")
    val grams = rows.find(!_.isNullAt(0)).get.getSeq[String](0)
    assert(grams === Seq("a b", "b a", "a b", "b a"))
  }

  test("SQL registration works (session extension path)") {
    val n = spark.sql(
      "SELECT text_shingles('x y z', 2) AS s").head.getSeq[String](0)
    assert(n === Seq("x y", "y z"))
  }
}
