package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Random-hyperplane LSH signature for cosine similarity (Charikar 2002):
  * `rh_signature(embedding, k)` returns a k-bit integer whose bit j is the
  * sign of the dot product with the j-th pseudo-random hyperplane. Vectors
  * with high cosine similarity agree on most bits, so equal signatures (or
  * small Hamming distance) define LSH buckets for embedding near-dup at
  * scale — the cosine analog of MinHash banding.
  *
  * The hyperplanes are Rademacher (±1) vectors derived deterministically
  * from a splitmix of (plane, dimension) — no stored codebook, identical on
  * every executor, and the whole k-plane projection happens in ONE pass
  * over the vector (k·d sign-flips and adds, no allocation).
  *
  * Codegen: participates in whole-stage codegen (no CodegenFallback).
  */
case class RandomHyperplaneSignature(child: Expression, numPlanes: Int)
    extends UnaryExpression {
  require(numPlanes >= 1 && numPlanes <= 63, "numPlanes in [1, 63]")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rh_signature expects array<float|double>, got ${other.sql}")
    }

  import RandomHyperplaneSignature.rademacher

  // lazy: child.dataType is unresolvable at construction time (programmatic
  // use with an unresolved child would throw UnresolvedException from an
  // eager val — Spark built-ins defer dataType access the same way)
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** One pass; shared by interpreted eval and generated code. */
  def compute(a: ArrayData): Long = {
    val n = a.numElements()
    val acc = new Array[Double](numPlanes)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        var p = 0
        while (p < numPlanes) {
          acc(p) += rademacher(p, i) * x
          p += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var p = 0
    while (p < numPlanes) {
      if (acc(p) > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override def nullSafeEval(arr: Any): Any = compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rhExpr", this, classOf[RandomHyperplaneSignature].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.compute($arr);")
  }

  override def prettyName: String = "rh_signature"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RandomHyperplaneSignature {

  /** splitmix64 of (plane, dim) → sign bit; stateless + deterministic.
    * Public so the generated oracle SQL (SimilarityQueries.q51Sql) derives
    * its coefficient table from the SAME values — no copied constants.
    */
  def rademacher(plane: Int, dim: Int): Double = {
    var z = plane.toLong * 0x9e3779b97f4a7c15L + dim.toLong * 0xbf58476d1ce4e5b9L + 0x94d049bb133111ebL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 1L) 1.0 else -1.0
  }

  def rh_signature(arrCol: String, numPlanes: Int): Column =
    Cols.column(RandomHyperplaneSignature(Cols.expression(arrCol), numPlanes))
}
