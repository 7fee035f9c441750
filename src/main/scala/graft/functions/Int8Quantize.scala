package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native per-vector symmetric int8 quantization:
  * `int8_quantize(v)` = `[floor(v_i * 127 / max|v| + 0.5) as tinyint]`,
  * with max|v| floored at 1e-30 so an all-zero vector quantizes to zeros
  * instead of NaN — exactly the q87 storage encoding (FAISS SQ8 family).
  *
  * Why a custom Expression (r15, the q87 27.6 s cell): the compositional
  * form put `greatest(array_max(transform(v, abs)), 1e-30)` inside the
  * quantizing `transform` lambda. Higher-order functions are
  * CodegenFallback (interpreted) AND re-evaluate the whole lambda body
  * per element — hoisting the scale into its own projected column does
  * not survive optimization either, because CollapseProject inlines a
  * once-referenced alias back into the lambda. Net: an O(d) reduction ran
  * per ELEMENT, so encoding was O(d²) interpreted evals per row — ~20 s
  * of the 27.6 s at the 100× board for what is one linear scan. This
  * expression does the two passes (max|v|, then quantize) over primitive
  * reads with no boxing, inside whole-stage codegen.
  *
  * Semantics pinned to the compositional form bit-for-bit (the oracle SQL
  * spells out the same definition): double arithmetic per element,
  * `floor(x * 127.0 / m + 0.5)` cast to byte — ANSI-safe because the
  * result is in [-127, 127] by construction. Null array → null; a null
  * ELEMENT → null result (the lambda form nulled the element, which then
  * nulled every downstream dot; nulling the vector keeps that contract
  * visible at the encode step instead of deep in a pair score). A NaN
  * element likewise → null result: the bit-for-bit claim above is for
  * finite input — on NaN the compositional form diverges from itself
  * across engines (Spark's array_max and DuckDB's list_max both treat
  * NaN as the maximum, but `x * 127.0 / NaN` then casts differently), so
  * the native path folds NaN into the same defined degenerate-input
  * contract as null elements instead of emitting garbage bytes.
  */
case class Int8Quantize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_quantize expects array<float|double>, got ${other.sql}")
    }

  // lazy: the child is unresolved at construction (copy/withNewChildren
  // run during analysis), so dataType must not be touched until eval time
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Two primitive passes; shared by interpreted eval and generated code. */
  def compute(a: ArrayData): GenericArrayData = {
    val n = a.numElements()
    var m = 1e-30
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      if (x.isNaN) return null // degenerate-input contract (see scaladoc)
      val ax = math.abs(x)
      if (ax > m) m = ax
      i += 1
    }
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = math.floor(x * 127.0 / m + 0.5).toByte
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("int8qExpr", this, classOf[Int8Quantize].getName)
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = $ref.compute($a);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override def prettyName: String = "int8_quantize"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Int8Quantize {

  /** Column helper built from Catalyst expressions (Cols bridge). */
  def int8_quantize(vCol: String): org.apache.spark.sql.Column =
    Cols.column(Int8Quantize(Cols.expression(vCol)))
}
