package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document DSIR feature counter: `dsir_bucket_counts(text, b)`
  * returns a DENSE length-`b` vector where slot `k` holds the number of
  * the document's hashed n-grams (all unigrams + all bigrams, q79's gram
  * set) whose `md5_prefix32(gram) % b == k` — i.e. exactly the per-doc
  * half of
  * {{{
  *   explode(concat(split(text,' '), text_shingles(text, 2)))
  *     .groupBy(doc, md5_prefix32(gram) % b).count()
  * }}}
  * computed in ONE codegen'd pass over the UTF-8 bytes.
  *
  * Why this exists (r16 verdict #1/#2 — the DSIR family sat at 2.5–2.9×
  * the DuckDB proxy for rounds): the per-(doc, bucket) count grain is
  * semantically REQUIRED (the oracle's 12-dp term rounding happens at
  * that grain), but producing it relationally exploded every gram of the
  * corpus into a row and pushed ~min(grams, b) rows PER DOCUMENT through
  * a full exchange — the r17 decomposition probe measured that count
  * shuffle as half of q79's wall at 10×. A document's gram→bucket counts
  * are a function of the document alone, so they belong scan-side: this
  * expression walks token spans ([[TokenSpans]]), MD5-buckets each
  * unigram/bigram span in place ([[Md5Prefix32.hashBytes]] — no hex
  * round-trip, no substring), and
  * emits one fixed-width vector per doc. Downstream, `posexplode` +
  * `filter(cnt > 0)` reproduces the old relation EXACTLY (a zero slot is
  * a gram-free bucket, which the old groupBy never emitted) with no
  * exchange: the per-bucket model aggregates collapse map-side to ≤ b
  * rows per partition, and the per-doc scoring sum collapses map-side
  * because a document's rows are contiguous after its own explode.
  *
  * Oracle parity: bucket ids and counts are bit-identical to the
  * compositional md5 chain (GramCountsSpec pins the dense vector
  * against the exploded groupBy), so the DuckDB oracle keeps its
  * idiomatic substring(md5(..)) SQL untouched.
  *
  * Semantics: null text → null; tokens as `split(text, ' ')`
  * ([[TokenSpans]]: empty tokens kept — the empty string has ONE
  * unigram, matching `string_split`), bigrams exist for docs with ≥ 2
  * tokens. Scale shape: per-row work is one MD5 per gram (the same MD5s
  * the old plan paid post-explode); output is b × 8 bytes regardless of
  * document length.
  */
case class DsirBucketCounts(child: Expression, b: Int) extends TextKernel {
  require(b >= 1, s"dsir_bucket_counts b must be >= 1, got $b")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(text: UTF8String): ArrayData = {
    val t = new TokenSpans(text)
    val counts = new Array[Long](b)
    var n = 1
    while (n <= 2) { // unigrams (empties included), then bigrams
      var s = 0
      while (s < t.spans(n)) {
        val from = t.starts(s)
        counts((Md5Prefix32.hashBytes(t.bytes, from, t.end(s, n) - from) % b).toInt) += 1L
        s += 1
      }
      n += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }

  override def prettyName: String = "dsir_bucket_counts"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DsirBucketCounts {

  /** Column helper built directly from the Catalyst expression (Cols
    * bridge — no SQL string interpolation, r13 ADVICE convention).
    */
  def dsir_bucket_counts(textCol: String, b: Int): Column =
    Cols.column(DsirBucketCounts(Cols.expression(textCol), b))
}
