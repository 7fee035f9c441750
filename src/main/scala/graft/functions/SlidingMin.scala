package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native sliding-window minimum: `sliding_min(arr, w)` ≡
  * `transform(sequence(1, size(arr) - w + 1),
  *            i -> array_min(slice(arr, i, w)))`
  * over an `array<bigint>` (empty array when `size(arr) < w`), in ONE
  * monotonic-deque pass — O(n) total instead of the compositional idiom's
  * O(n·w) slice allocations, all of it inside Catalyst's interpreted
  * higher-order-function evaluator (which never joins whole-stage
  * codegen).
  *
  * Why it exists: winnowing fingerprint selection (q48/q81 — Schleimer
  * et al. 2003) keeps each w-window's minimum gram hash. Per-document
  * arrays are the scale-correct layout (no explode of every
  * gram × window membership into a corpus-sized aggregation), but the
  * compositional window-min was the dominant cost of the whole query
  * under the full-materialization protocol (~12 s of q48's 13 s at 10×).
  * The deque holds indices of a non-decreasing run of candidate minima;
  * each index enters and leaves at most once.
  *
  * Semantics: null array → null; null ELEMENTS are rejected (the inputs
  * are hash arrays, containsNull is structurally false there — failing
  * loudly beats silently ranking nulls); w ≥ 1 required.
  */
case class SlidingMin(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"sliding_min window must be >= 1, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sliding_min expects array<bigint>, got ${other.sql}")
    }

  /** One deque pass; shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - w + 1)
    // deque of indices with non-decreasing values; head = current window min
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"sliding_min: null element at index $i")
      val v = arr.getLong(i)
      while (tail > head && arr.getLong(dq(tail - 1)) >= v) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = arr.getLong(dq(head))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(arr: Any): Any =
    compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("slidingMinExpr", this, classOf[SlidingMin].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override def prettyName: String = "sliding_min"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SlidingMin {

  /** Column helper built directly from the Catalyst expression (Cols
    * bridge — no SQL string interpolation, r13 ADVICE convention).
    */
  def sliding_min(arrCol: String, w: Int): Column =
    Cols.column(SlidingMin(Cols.expression(arrCol), w))
}
