package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** text_shingle_hashes ≡ xxhash64 over text_shingles, element-for-element,
  * on adversarial strings — the bit-equality q86's bloom relies on (the
  * filter used to ingest xxhash64(shingle-string); now it ingests these
  * values directly) and the q58/q78 injective-hash substitution rests on.
  */
class TextShingleHashesSpec extends SparkSpec {

  import spark.implicits._

  test("fused hashes equal xxhash64(text_shingles) on adversarial text") {
    for (n <- Seq(1, 2, 3, 8)) {
      val df = AdversarialText.texts(60, 4242L).toDF("text")
      val got = df.select(
        TextShingleHashes.text_shingle_hashes("text", n).as("a"),
        transform(TextShingles.text_shingles("text", n),
          t => xxhash64(t)).as("b"))
        .collect()
      for (r <- got)
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"n=$n diverged")
    }
  }

  test("null text stays null; short docs yield empty; duplicates kept") {
    val df = Seq(Some("a b a b a"), Some("one"), None).toDF("text")
    val rows = df.select(
      TextShingleHashes.text_shingle_hashes("text", 2).as("h"),
      col("text")).collect()
    assert(rows.exists(_.isNullAt(0)), "null in, null out")
    val short = rows.find(r => !r.isNullAt(1) && r.getString(1) == "one").get
    assert(short.getSeq[Long](0) === Seq.empty[Long])
    val dup = rows.find(r => !r.isNullAt(1) && r.getString(1) != "one").get
      .getSeq[Long](0)
    assert(dup.length === 4)
    assert(dup(0) === dup(2) && dup(1) === dup(3), "duplicates preserved")
    assert(dup(0) !== dup(1))
  }

  test("SQL registration works (session extension path)") {
    val got = spark.sql(
      "SELECT text_shingle_hashes('x y z', 2) AS h, " +
        "transform(text_shingles('x y z', 2), t -> xxhash64(t)) AS e").head
    assert(got.getSeq[Long](0) === got.getSeq[Long](1))
  }
}
