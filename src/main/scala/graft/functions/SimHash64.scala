package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native 64-bit SimHash: `simhash64(tokens)` — each token's hash64
  * ([[Hash64]], the oracle-expressible base hash of the dedup family)
  * votes +1/−1 on every bit; the signature's bit b is set iff the net
  * vote is positive.
  *
  * Why a custom Expression: the composed form explodes the corpus to one row
  * per token and runs 64 conditional-sum aggregates through a shuffle —
  * at 100 TB that is a full-corpus explode + exchange for a value that is a
  * pure per-document function. This expression computes the signature in one
  * pass inside the scan: no explode, no shuffle, nothing leaves the
  * partition but (doc_id, signature).
  *
  * Codegen: participates in whole-stage codegen (no CodegenFallback) — the
  * generated code calls [[compute]] on the raw array, so the per-document
  * inner loop runs without InternalRow boxing.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 expects array<string>, got ${other.sql}")
    }

  /** One pass; shared by interpreted eval and generated code. */
  def compute(a: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (!a.isNullAt(i)) {
        val h = Hash64.hash(a.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override def nullSafeEval(arr: Any): Any = compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashExpr", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.compute($arr);")
  }

  override def prettyName: String = "simhash64"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  def simhash64(arrCol: String): Column = Cols.column(SimHash64(Cols.expression(arrCol)))
}
