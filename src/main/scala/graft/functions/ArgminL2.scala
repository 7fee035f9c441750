package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Lloyd assignment: `argmin_l2(v, cids, cvs_flat)` returns
  * `struct(cid INT, dist2 DOUBLE)` — the centroid id minimizing the
  * 6dp-ROUNDED squared L2 distance to `v` (ties broken on the smaller
  * cid), where `cids` is the K centroid ids and `cvs_flat` their vectors
  * flattened into one `array<double>` of K·dims elements (so scanning K
  * candidates touches no per-candidate object at all).
  *
  * Why this exists (r15, the q69 199 s fix): the relational form —
  * `emb JOIN broadcast(cents)` then `groupBy(vec_id).agg(min(struct(
  * dist2, cid, v)))` — materializes N·K rows each carrying the 64-double
  * vector payload, and because a struct-with-array aggregation buffer is
  * not UnsafeRow-mutable, Spark plans it as Sort + SortAggregate: at the
  * 100× board that is ~90M rows × ~550 B ≈ 49 GB pushed through
  * per-partition sorts, the measured scale-killer (199 s, wall exponent
  * 1.32). This expression does the argmin INSIDE one codegen'd scan row:
  * the K·dims centroid matrix rides a 1-row broadcast, vectors never
  * leave their scan partition, and assignment is exchange-free.
  *
  * Semantics pinned to the relational form it replaces (and the oracle):
  * per candidate, dist2 = round(Σ_i (v_i − cv_i)², 6) with the sum taken
  * in element order and the rounding exactly Spark's `round` (BigDecimal
  * HALF_UP), then the lexicographic (dist2, cid) minimum. An early-exit
  * guard abandons a candidate once its partial sum exceeds best + 5e-7:
  * round(x, 6) ≥ x − 5e-7, so such a candidate's rounded distance is
  * strictly greater than the incumbent's and can affect neither the min
  * nor the tie-break.
  *
  * Null/empty: any null input or empty candidate list → null.
  */
case class ArgminL2(v: Expression, cids: Expression, cvsFlat: Expression)
    extends TernaryExpression {

  override def first: Expression = v
  override def second: Expression = cids
  override def third: Expression = cvsFlat

  override def dataType: DataType = ArgminL2.Schema
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (v.dataType, cids.dataType, cvsFlat.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argmin_l2 expects (array<double>, array<int>, array<double>), got $other")
    }

  /** One pass; shared by interpreted eval and generated code.
    *
    * Access-path notes (measured at the 100× corpus): the broadcast
    * candidate matrix arrives as an UnsafeArrayData VIEW whose getDouble
    * is a primitive read — but the view WRAPPER is re-created per row, so
    * an identity-keyed toDoubleArray cache mistakes every row for a new
    * matrix and copies K·dims doubles per row (tried: 2.5× SLOWER). The
    * query vector, by contrast, is a per-row GenericArrayData (built by
    * the upstream cast transform) whose getDouble unboxes — one
    * toDoubleArray per row converts K·dims boxed reads into dims.
    */
  def compute(vec: ArrayData, ids: ArrayData, flat: ArrayData): InternalRow = {
    val dims = vec.numElements()
    val k = ids.numElements()
    if (k == 0) return null
    val vv = vec.toDoubleArray()
    var bestCid = 0
    var bestD2 = Double.MaxValue
    var c = 0
    while (c < k) {
      val base = c * dims
      var sum = 0.0
      var i = 0
      // early-exit bound: past best + 5e-7 the rounded value must exceed
      // the incumbent (see scaladoc), so the remaining dims cannot matter
      val bound = bestD2 + 5e-7
      while (i < dims && sum <= bound) {
        val d = vv(i) - flat.getDouble(base + i)
        sum += d * d
        i += 1
      }
      if (i == dims && sum <= bound) {
        // exactly Spark's round(x, 6): BigDecimal.valueOf + HALF_UP
        val d2 = java.math.BigDecimal.valueOf(sum)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val cid = ids.getInt(c)
        if (d2 < bestD2 || (d2 == bestD2 && cid < bestCid)) {
          bestD2 = d2
          bestCid = cid
        }
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestCid, bestD2))
  }

  override def nullSafeEval(vec: Any, ids: Any, flat: Any): Any =
    compute(vec.asInstanceOf[ArrayData], ids.asInstanceOf[ArrayData],
      flat.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("argminL2Expr", this, classOf[ArgminL2].getName)
    nullSafeCodeGen(ctx, ev, (a, b, c) => s"""
      ${ev.value} = $ref.compute($a, $b, $c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override def prettyName: String = "argmin_l2"

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(v = newFirst, cids = newSecond, cvsFlat = newThird)
}

object ArgminL2 {

  val Schema: StructType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("dist2", DoubleType, nullable = false)))

  /** Column helper built from Catalyst expressions (Cols bridge). */
  def argmin_l2(vCol: String, cidsCol: String,
      cvsFlatCol: String): org.apache.spark.sql.Column =
    Cols.column(ArgminL2(Cols.expression(vCol), Cols.expression(cidsCol),
      Cols.expression(cvsFlatCol)))
}
