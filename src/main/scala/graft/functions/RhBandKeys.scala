package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Wide random-hyperplane LSH band keys for cosine similarity:
  * `rh_band_keys(embedding, bandBits, numBands)` returns `numBands` longs,
  * where element `b` packs the signs of planes `[b·bandBits, (b+1)·bandBits)`
  * — bit `j` of key `b` is the sign of the dot product with global plane
  * `b·bandBits + j`. The planes are the SAME deterministic Rademacher
  * family as [[RandomHyperplaneSignature]] (shared `rademacher(plane, dim)`
  * splitmix), so for `numBands·bandBits ≤ 63` each key equals the
  * corresponding bit-slice of `rh_signature(v, numBands·bandBits)` exactly
  * — pinned by RhBandKeysSpec.
  *
  * Why this exists (r15 verdict, "What's missing #1"): the q51/q76 banding
  * packs 4 bands into ONE 64-bit signature, clamping the adaptive
  * ~8-rows-per-bucket band width at 15 bits. Past n ≈ 2¹⁵·8 ≈ 262k vectors
  * the rule stops adapting, mean bucket occupancy grows linearly in N, and
  * candidate volume picks up a birthday term ~N²/2¹⁶ on ANY corpus (the
  * exact arithmetic BENCH_r15_q77cands_probe.json measured on fixed-width
  * SimHash bands).
  * Emitting each band key as its own long lifts the ceiling to 62 bits per
  * band — bandBits can track log2(N/8) far past any local corpus — while
  * keeping the emit-once cross-band dedup a codegen'd primitive comparison
  * (`GetArrayItem` on the carried key array; no higher-order functions,
  * which are CodegenFallback — the r15 ArrayExists.eval lesson).
  *
  * One pass over the vector for ALL planes (numBands·bandBits·d sign-flip
  * adds, one allocation for the accumulator and one for the keys);
  * participates in whole-stage codegen (no CodegenFallback).
  */
case class RhBandKeys(child: Expression, bandBits: Int, numBands: Int)
    extends UnaryExpression {
  require(bandBits >= 1 && bandBits <= 62, "bandBits in [1, 62]")
  require(numBands >= 1 && numBands <= 16, "numBands in [1, 16]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rh_band_keys expects array<float|double>, got ${other.sql}")
    }

  import RandomHyperplaneSignature.rademacher

  // lazy: child.dataType is unresolvable at construction time (see
  // RandomHyperplaneSignature)
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** One pass; shared by interpreted eval and generated code. */
  def compute(a: ArrayData): GenericArrayData = {
    val planes = bandBits * numBands
    val n = a.numElements()
    val acc = new Array[Double](planes)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        var p = 0
        while (p < planes) {
          acc(p) += rademacher(p, i) * x
          p += 1
        }
      }
      i += 1
    }
    val keys = new Array[Long](numBands)
    var p = 0
    while (p < planes) {
      if (acc(p) > 0) keys(p / bandBits) |= (1L << (p % bandBits))
      p += 1
    }
    new GenericArrayData(keys)
  }

  override def nullSafeEval(arr: Any): Any = compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rhBandsExpr", this, classOf[RhBandKeys].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.compute($arr);")
  }

  override def prettyName: String = "rh_band_keys"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RhBandKeys {

  def rh_band_keys(arrCol: String, bandBits: Int, numBands: Int): Column =
    Cols.column(RhBandKeys(Cols.expression(arrCol), bandBits, numBands))
}
