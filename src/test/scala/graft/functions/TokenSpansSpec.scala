package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The one token walker and every kernel built on it, against forms that
  * do not use it: Java's `split(" ", -1)` on the driver, and Spark's
  * `split`/`slice`/`array_join` shingles hashed by the scalar functions.
  * The texts are [[AdversarialText]]: empty tokens, 4-byte code points,
  * and a tab that must not split.
  */
class TokenSpansSpec extends SparkSpec {

  import spark.implicits._

  private val texts = AdversarialText.texts(80, 2024L)

  test("token starts and span ends follow split(text, ' ')") {
    for (text <- texts) {
      val toks = text.split(" ", -1)
      val t = new TokenSpans(UTF8String.fromString(text))
      assert(t.starts.length === toks.length, text)
      for (n <- 1 to 4) {
        assert(t.spans(n) === math.max(toks.length - n + 1, 0), s"n=$n $text")
        for (s <- 0 until t.spans(n))
          assert(t.utf8(s, n).toString === toks.slice(s, s + n).mkString(" "), s"n=$n s=$s")
      }
    }
  }

  test("every span kernel equals its compositional form on adversarial text") {
    val df = texts.toDF("text")
    for (n <- Seq(1, 2, 3, 8)) {
      val shingles = AdversarialText.compositional(col("text"), n)
      val pairs = Seq(
        TextShingles.text_shingles("text", n) -> shingles,
        TextShingleHashes.text_shingle_hashes("text", n) -> transform(shingles, xxhash64(_)),
        TextShingleHashes.text_shingle_hash64s("text", n) -> transform(shingles, Hash64.hash64(_)),
        TextShingleHashes.text_shingle_md5p32s("text", n) ->
          transform(shingles, Md5Prefix32.md5_prefix32(_)))
      val rows = df.select(pairs.flatMap { case (a, b) => Seq(a, b) }: _*).collect()
      for (r <- rows; i <- pairs.indices)
        assert(r.getSeq[Any](2 * i) === r.getSeq[Any](2 * i + 1), s"n=$n kernel $i")
    }
    val mh = df.withColumn("sh", AdversarialText.compositional(col("text"), 3))
      .select(MinHashFromText.minhash_text("text", 16),
        MinHashSignature.minhash_signature("sh", 16)).collect()
    for (r <- mh) assert(r.getSeq[Long](0) === r.getSeq[Long](1), "minhash_text")
  }

  test("minhash_text equals the decode-split-join signature it replaced") {
    // the form before the walker: decode to a String, split, re-join each
    // 3-gram in a StringBuilder, hash its UTF-16 chars (surrogate pairs
    // folded to one code point)
    def reference(text: String, k: Int): Seq[Long] = {
      val toks = text.split(" ", -1)
      val mins = Array.fill(k)(Long.MaxValue)
      for (i <- 0 to toks.length - 3) {
        val x = Hash64.hash(new java.lang.StringBuilder()
          .append(toks(i)).append(' ').append(toks(i + 1)).append(' ').append(toks(i + 2)))
        for (h <- 0 until k) {
          val hv = (MinHashSignature.splitmix64(2L * h) | 1L) * x +
            MinHashSignature.splitmix64(2L * h + 1L)
          if (hv < mins(h)) mins(h) = hv
        }
      }
      mins.toSeq
    }
    val astral = texts.filter(_.contains("𝄞"))
    assert(astral.nonEmpty, "the generator must reach 4-byte code points")
    val got = texts.toDF("text").select(col("text"), MinHashFromText.minhash_text("text", 8))
      .collect()
    for (r <- got) assert(r.getSeq[Long](1) === reference(r.getString(0), 8), r.getString(0))
  }
}
