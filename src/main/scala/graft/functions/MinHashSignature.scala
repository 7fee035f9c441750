package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native MinHash signature: `minhash_signature(shingles, k)` returns the
  * k-slot signature [min over shingles of a_h·hash64(s)+b_h for h in
  * 0..k-1] in ONE pass over the shingle array.
  *
  * Why a custom Expression (SURVEY §7.3 preference (b)): the composed
  * built-in form — k separate `array_min(transform(shingles, xxhash64(...)))`
  * calls — walks the array k times and allocates k intermediate arrays per
  * row, all in interpreted higher-order-function evaluation. This operator
  * is the inner loop of LSH dedup over every document at 100 TB; a single
  * fused pass with no allocations is the difference between the signature
  * stage being free vs dominating the scan.
  *
  * Codegen: participates in whole-stage codegen (no CodegenFallback) — the
  * generated code calls [[compute]] directly on the array, so rows are never
  * boxed into an InternalRow and the surrounding stage stays fused.
  *
  * Semantics notes: null array → null; null/absent elements are skipped;
  * an empty array yields Long.MaxValue slots (no shingles = empty set —
  * callers filter size >= 1). Deterministic: each shingle's UTF-8 bytes
  * are hash64'd ONCE ([[Hash64]] — the oracle-expressible base hash of
  * the dedup family), and the k family values derive from multiply-shift
  * universal hashing (odd a_i · x + b_i, SplitMix64-seeded constants) —
  * hashing the bytes k times with k seeds costs k passes over every
  * shingle and was the measured hot spot of the signature stage (~4× the
  * whole simhash query); one byte pass + k multiply-adds is the standard
  * MinHash construction and estimator-equivalent.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1, s"minhash_signature numHashes must be >= 1, got $numHashes")

  @transient private lazy val slots = new MinHashSignature.Slots(numHashes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature expects array<string>, got ${other.sql}")
    }

  /** One fused pass; shared by interpreted eval and generated code. */
  def compute(a: ArrayData): ArrayData = {
    val mins = slots.empty()
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (!a.isNullAt(i)) slots.fold(mins, Hash64.hash(a.getUTF8String(i)))
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def nullSafeEval(arr: Any): Any = compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashExpr", this, classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.compute($arr);")
  }

  override def prettyName: String = "minhash_signature"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {

  /** SplitMix64 finalizer — the standard published 64-bit mixer. */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The k-slot family: per-slot multiply-shift constants derived
    * deterministically from the slot index (odd a_h, b_h from SplitMix64;
    * recomputed per executor, tiny), and the fold of one base hash into a
    * signature. Shared by [[MinHashSignature]] and [[MinHashFromText]].
    */
  final class Slots(k: Int) {
    private val multA = Array.tabulate(k)(h => splitmix64(2L * h) | 1L) // odd multiplier
    private val addB = Array.tabulate(k)(h => splitmix64(2L * h + 1L))

    /** The signature of the empty set: every slot Long.MaxValue. */
    def empty(): Array[Long] = Array.fill(k)(Long.MaxValue)

    /** mins(h) = min(mins(h), a_h·x + b_h) for every slot h. */
    def fold(mins: Array[Long], x: Long): Unit = {
      var h = 0
      while (h < k) {
        val hv = multA(h) * x + addB(h)
        if (hv < mins(h)) mins(h) = hv
        h += 1
      }
    }
  }

  def minhash_signature(arrCol: String, numHashes: Int): Column =
    Cols.column(MinHashSignature(Cols.expression(arrCol), numHashes))
}
