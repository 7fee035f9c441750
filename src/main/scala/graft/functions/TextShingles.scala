package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native n-gram shingling: `text_shingles(text, n)` ≡
  * `transform(sequence(1, size(split(text,' ')) - n + 1),
  *            i -> array_join(slice(split(text,' '), i, n), ' '))`
  * (empty array when the text has fewer than n tokens), in ONE codegen'd
  * pass with no per-shingle lambda dispatch.
  *
  * Why: the compositional idiom runs in Catalyst's higher-order-function
  * evaluator, which does not participate in whole-stage codegen — under
  * the round-13 full-materialization bench protocol it measured ~500 µs
  * per 128-token document, the dominant cost of the whole
  * decontamination/heavy-hitter text family. Each shingle is instead a
  * (near zero-copy) byte span of the input ([[TokenSpans]]). Duplicates
  * are KEPT (bigram counting needs multiplicity); wrap in
  * `array_distinct` (codegen'd) for set semantics.
  *
  * Semantics: null text → null; n ≥ 1 required; tokens as
  * `split(text, ' ')` ([[TokenSpans]]).
  */
case class TextShingles(child: Expression, n: Int) extends TextKernel {
  require(n >= 1, s"text_shingles n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(text: UTF8String): ArrayData = {
    val t = new TokenSpans(text)
    val out = new Array[Any](t.spans(n))
    var s = 0
    while (s < out.length) { out(s) = t.utf8(s, n); s += 1 }
    new GenericArrayData(out)
  }

  override def prettyName: String = "text_shingles"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextShingles {

  /** Column helper built directly from the Catalyst expression — no SQL
    * string interpolation, so qualified/backtick-needing column names work
    * and nothing is injectable (r13 ADVICE).
    */
  def text_shingles(textCol: String, n: Int): Column =
    Cols.column(TextShingles(Cols.expression(textCol), n))
}
