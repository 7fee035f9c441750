package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native cosine similarity of two numeric array columns:
  * `cosine_similarity(a, b)` = a·b / (‖a‖·‖b‖), accumulated in doubles in
  * element order (bit-compatible with the sequential higher-order-function
  * formulation it replaces).
  *
  * Why a custom Expression: the composed form —
  * `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, +)` plus two more
  * aggregates for the norms — allocates a zipped array per row and walks
  * the vectors five times in interpreted HOF eval. This is the inner loop
  * of every ANN/near-dup scoring join; one fused pass with no allocation
  * keeps the similarity stage inside the scan/join at 100 TB.
  *
  * Codegen: participates in whole-stage codegen (no CodegenFallback). The
  * generated code calls [[compute]], which returns a boxed Double so the
  * null result cases below survive the boundary (one box per row vs the
  * fallback's whole-InternalRow boxing).
  *
  * Null array or length mismatch → null; zero-norm input → null (callers
  * treat "no magnitude" as no similarity, matching SQL NULL semantics).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType |
      ByteType | ShortType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects numeric arrays, got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")

  private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case ArrayType(FloatType, _) => a.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => a.getDouble(i)
    case ArrayType(IntegerType, _) => a.getInt(i).toDouble
    case ArrayType(LongType, _) => a.getLong(i).toDouble
    // int8/int16 quantized vectors (q87's storage): products and norms of
    // |x| <= 127 at 64 dims stay far below 2^53, so double accumulation
    // is EXACT — bit-identical to the int64-sum formulation it replaces
    case ArrayType(ByteType, _) => a.getByte(i).toDouble
    case ArrayType(ShortType, _) => a.getShort(i).toDouble
    case _ => throw new IllegalStateException
  }

  /** One fused pass; boxed Double (null = mismatch / zero norm / null
    * element) shared by interpreted eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      // propagate NULL like the HOF form this replaces (null element in
      // zip_with/aggregate nulled the whole score, not silently 0.0)
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = get(a, i, left.dataType)
      val y = get(b, i, right.dataType)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosExpr", this, classOf[CosineSimilarity].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("cos")
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

  override def prettyName: String = "cosine_similarity"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  def cosine_similarity(aCol: String, bCol: String): Column =
    Cols.column(CosineSimilarity(Cols.expression(aCol), Cols.expression(bCol)))
}
