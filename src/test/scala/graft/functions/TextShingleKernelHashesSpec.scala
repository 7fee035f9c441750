package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r17 fused kernel-hash expressions to the lambda forms they
  * replace: `text_shingle_hash64s(text, n)` ≡ `transform(text_shingles,
  * hash64)` and `text_shingle_md5p32s(text, n)` ≡ `transform(...,
  * md5_prefix32)` — bit-for-bit, duplicates and order included.
  */
class TextShingleKernelHashesSpec extends SparkSpec {

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a a a a a a",                // duplicates must be kept, positionally
    "one two three four",
    "one two three",              // exactly n for n=3
    "tiny",                       // fewer than n tokens -> empty
    "",                           // empty string = one empty token
    "unicode héllo wörld ümlauts again and again")

  test("text_shingle_hash64s equals transform(text_shingles, hash64)") {
    import spark.implicits._
    for (n <- Seq(1, 3, 4)) {
      val df = texts.toDF("text")
      val got = df.select(
        TextShingleHashes.text_shingle_hash64s("text", n)).collect()
        .map(_.getSeq[Long](0))
      val want = df.select(
        expr(s"transform(text_shingles(text, $n), x -> hash64(x))")).collect()
        .map(_.getSeq[Long](0))
      assert(got.toSeq == want.toSeq, s"n=$n")
    }
  }

  test("text_shingle_md5p32s equals transform(text_shingles, md5_prefix32)") {
    import spark.implicits._
    for (n <- Seq(1, 4)) {
      val df = texts.toDF("text")
      val got = df.select(
        TextShingleHashes.text_shingle_md5p32s("text", n)).collect()
        .map(_.getSeq[Long](0))
      val want = df.select(
        expr(s"transform(text_shingles(text, $n), x -> md5_prefix32(x))")).collect()
        .map(_.getSeq[Long](0))
      assert(got.toSeq == want.toSeq, s"n=$n")
    }
  }

  test("null text yields null, not an empty array") {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("a b c d")).toDF("text")
    val got = df.select(
      TextShingleHashes.text_shingle_hash64s("text", 3)).collect()
    assert(got(0).isNullAt(0))
    assert(!got(1).isNullAt(0))
  }
}
