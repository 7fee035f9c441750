package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Adversarial texts for the token-span kernels: multi-space runs (empty
  * tokens), leading/trailing spaces, the empty string, single tokens,
  * 2-, 3- and 4-byte UTF-8 code points ("𝄞" is a surrogate pair in a Java
  * String) and a tab inside a token (only 0x20 splits).
  */
object AdversarialText {

  val gen: Gen[String] = for {
    k <- Gen.choose(0, 30)
    toks <- Gen.listOfN(k, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)), Gen.const(""), Gen.const("héllo"),
      Gen.const("käse"), Gen.const("the"), Gen.const("日本語"), Gen.const("a"),
      Gen.const("𝄞"), Gen.const("x\ty")))
    lead <- Gen.oneOf("", " ", "  ")
    trail <- Gen.oneOf("", " ")
  } yield lead + toks.mkString(" ") + trail

  /** `n` texts drawn from [[gen]], starting at `seed`. */
  def texts(n: Int, seed: Long): Seq[String] = {
    var s = Seed(seed)
    val buf = List.newBuilder[String]
    var done = 0
    while (done < n) {
      gen.apply(Gen.Parameters.default.withSize(40), s).foreach { a =>
        buf += a; done += 1
      }
      s = s.next
    }
    buf.result()
  }

  /** The n-token shingles of `text` from built-ins only: the
    * `split`/`slice`/`array_join` idiom the native kernels replace.
    */
  def compositional(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }
}
