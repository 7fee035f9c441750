package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document bigram transition counter:
  * `bigram_hash_counts(text)` returns one row per DISTINCT adjacent token
  * pair of the document — `{hp: hash64(prev), hb: hash64("prev cur"),
  * cnt: occurrences}` — i.e. exactly the per-doc half of
  * {{{
  *   explode(text_shingles(text, 2))
  *     .groupBy(doc, hash64(substring_index(bg,' ',1)), hash64(bg)).count()
  * }}}
  * in ONE codegen'd pass.
  *
  * Why (r16 verdict #1 — q80 at 6.2×/5.4× the DuckDB proxy, the worst
  * data-bound ratio in the registry): the bigram LM needs per-(doc,
  * transition) counts WITH multiplicity (the oracle's 12-dp rounding
  * grain), and the relational form pushed one row per distinct
  * transition of the whole corpus — nearly one per token — through a
  * full exchange plus a 10M-row localCheckpoint (the r17 decomposition
  * probe: that stage alone was ~3.2 s of q80's 6.1 s wall at 10×). A
  * document's transition counts are a function of the document alone:
  * this expression walks the token spans once ([[TokenSpans]]), hashes
  * each bigram span and its prev-token span with [[Hash64]] (zero-copy
  * views over the text bytes), counts duplicates in a small per-doc
  * map, and emits a compact struct array. Downstream `explode` reproduces the old
  * relation with NO exchange: the target-side model aggregates shuffle
  * only distinct-bigram rows of the TARGET slice, and the per-doc score
  * sum collapses map-side because a doc's rows are contiguous.
  *
  * hp/hb values are bit-identical to the compositional hash64 chain
  * (GramCountsSpec pins the exploded comparison), so the q80
  * scoring joins can mix this with hash64-derived model keys, and the
  * DuckDB oracle keeps its string-keyed SQL (the q47/q78 injective-hash
  * class, argued at the q80 call site).
  *
  * Semantics: null text → null; < 2 tokens → empty array (the explode
  * drops the doc, matching the old `size >= 2` filter); tokens as
  * `split(text, ' ')` ([[TokenSpans]]). Output order is first
  * occurrence — irrelevant downstream (consumed by explode+aggregate).
  */
case class BigramHashCounts(child: Expression) extends TextKernel {

  override def dataType: DataType = BigramHashCounts.Schema

  def compute(text: UTF8String): ArrayData = {
    val t = new TokenSpans(text)
    val m = t.spans(2)
    // distinct (hp, hb, cnt) via a per-doc map keyed on hb (equal hb ⇒
    // equal bigram ⇒ equal hp, modulo the accepted 64-bit collision class)
    val hp = new Array[Long](m)
    val hb = new Array[Long](m)
    val cnt = new Array[Long](m)
    val idx = new java.util.HashMap[java.lang.Long, Integer](m * 2)
    var k = 0
    var s = 0
    while (s < m) {
      val h = Hash64.hash(t.utf8(s, 2))
      val prior = idx.get(h)
      if (prior != null) cnt(prior) += 1L
      else {
        hp(k) = Hash64.hash(t.utf8(s, 1))
        hb(k) = h
        cnt(k) = 1L
        idx.put(h, k)
        k += 1
      }
      s += 1
    }
    val out = new Array[Any](k)
    s = 0
    while (s < k) { out(s) = new GenericInternalRow(Array[Any](hp(s), hb(s), cnt(s))); s += 1 }
    new GenericArrayData(out)
  }

  override def prettyName: String = "bigram_hash_counts"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramHashCounts {

  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("hp", LongType, nullable = false),
    StructField("hb", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  /** Column helper built directly from the Catalyst expression (Cols
    * bridge — no SQL string interpolation, r13 ADVICE convention).
    */
  def bigram_hash_counts(textCol: String): Column =
    Cols.column(BigramHashCounts(Cols.expression(textCol)))
}
