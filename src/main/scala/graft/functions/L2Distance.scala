package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native squared-L2 distance of two numeric array columns:
  * `l2_sq(a, b)` = Σ (aᵢ − bᵢ)², accumulated in doubles in element order —
  * bit-compatible with the sequential
  * `aggregate(zip_with(a, b, (x, y) => (x-y)*(x-y)), 0.0, +)` higher-order
  * form it replaces (same adds in the same order), so swapping it into a
  * query cannot change an oracle-checked result.
  *
  * Why a custom Expression: the HOF form allocates a zipped array per row
  * and runs in the interpreted evaluator — it was the whole cost of q69's
  * k-means assignment stage (each Lloyd round evaluates K distances per
  * vector). Same rationale and structure as [[CosineSimilarity]].
  *
  * Null array or length mismatch → null; null element → null (matching
  * zip_with/aggregate null propagation).
  */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"l2_sq expects numeric arrays, got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")

  private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case ArrayType(FloatType, _) => a.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => a.getDouble(i)
    case ArrayType(IntegerType, _) => a.getInt(i).toDouble
    case ArrayType(LongType, _) => a.getLong(i).toDouble
    case _ => throw new IllegalStateException
  }

  /** One fused pass; boxed Double shared by interpreted eval and codegen. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = get(a, i, left.dataType) - get(b, i, right.dataType)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("l2Expr", this, classOf[L2Distance].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("l2")
      s"""
         |java.lang.Double $boxed = $ref.compute($a, $b);
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $boxed.doubleValue();
         |}
       """.stripMargin
    })
  }

  override def prettyName: String = "l2_sq"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object L2Distance {
  def l2_sq(aCol: String, bCol: String): Column =
    Cols.column(L2Distance(Cols.expression(aCol), Cols.expression(bCol)))
}
