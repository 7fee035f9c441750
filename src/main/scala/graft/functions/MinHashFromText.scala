package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused text → MinHash signature: `minhash_text(text, k)` ≡
  * `minhash_signature(array_distinct(3-gram shingles of split(text,' ')), k)`
  * in ONE codegen'd pass with no intermediate columns.
  *
  * Why fuse past [[MinHashSignature]]: the compositional shingle pipeline
  * (`split` → `arrays_zip` of three shifted `slice`s → `transform` +
  * `concat_ws` → `array_distinct`) runs in Catalyst's higher-order-function
  * evaluator, which does NOT participate in whole-stage codegen — every
  * element is boxed and every lambda dispatched per shingle. Measured at
  * sf0.1 that interpreted shingling dominated the signature stage ~3:1
  * over the hashing itself. For the oracle-checked relational shingle
  * query (q36) the compositional form stays; for the 100 TB dedup loop
  * (q42/q43) this expression IS the map stage.
  *
  * `array_distinct` is dropped, not reimplemented: min over a multiset
  * equals min over its support, so duplicate shingles cannot change any
  * signature slot.
  *
  * Each 3-gram is a byte span of the text ([[TokenSpans]]) hashed in
  * place with `Hash64.hash(UTF8String)`: no decode, no split, no
  * re-joined string. That form equals the `CharSequence` hash of the
  * decoded 3-gram (Hash64Spec; TokenSpansSpec checks whole signatures
  * against a decode-split-join reference on 4-byte code points).
  *
  * Semantics: null text → null; k ≥ 1 required; fewer than 3 tokens →
  * all-Long.MaxValue slots (empty shingle set — callers filter on token
  * count). Hashing matches MinHashSignature: hash64(shingle) once
  * ([[Hash64]], the oracle-expressible base hash), then the same
  * SplitMix64-seeded multiply-shift family ([[MinHashSignature.Slots]]).
  */
case class MinHashFromText(child: Expression, numHashes: Int) extends TextKernel {
  require(numHashes >= 1, s"minhash_text numHashes must be >= 1, got $numHashes")

  @transient private lazy val slots = new MinHashSignature.Slots(numHashes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(text: UTF8String): ArrayData = {
    val t = new TokenSpans(text)
    val mins = slots.empty()
    var s = 0
    while (s < t.spans(3)) { slots.fold(mins, Hash64.hash(t.utf8(s, 3))); s += 1 }
    new GenericArrayData(mins)
  }

  override def prettyName: String = "minhash_text"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashFromText {
  def minhash_text(textCol: String, numHashes: Int): Column =
    Cols.column(MinHashFromText(Cols.expression(textCol), numHashes))
}
