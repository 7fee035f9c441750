package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `md5_prefix32(s)` ≡ `conv(substring(md5(s), 1, 8), 16, 10)` cast to
  * long: the unsigned 32-bit integer formed by the first four bytes of
  * the MD5 digest — the repo's portable hash-bucket primitive (the
  * q18/hashBucket01 idiom, used per-GRAM by q79's DSIR bucketing and
  * q81's winnowing fingerprints).
  *
  * Why a native expression when every step of the compositional chain is
  * already codegen'd: the chain materializes a 32-char lowercase-hex
  * UTF8String (md5), substrings it (one more allocation), then PARSES
  * those hex bytes back into a number through `conv`'s general
  * radix-conversion loop — three string allocations and a base-16 parse
  * per gram, where the value wanted is just the digest's first word.
  * This expression computes the digest and reads four bytes; the hex
  * round-trip never exists. On q79's gram volume (every unigram + bigram
  * of the corpus) the chain was the named per-row constant factor of the
  * r16 verdict's perf_weak family.
  *
  * Oracle parity is untouched BY CONSTRUCTION: the DuckDB side keeps the
  * idiomatic `CAST(('0x' || substring(md5(g),1,8)) AS BIGINT)` SQL, and
  * this expression equals the engine-side compositional chain bit-for-bit
  * (Md5Prefix32Spec pins both equalities on generated corpora). Value
  * range [0, 2^32): non-negative, so `pmod(x, b) = x % b`.
  */
case class Md5Prefix32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_prefix32 expects string, got ${other.sql}")
    }

  override def nullSafeEval(s: Any): Any =
    Md5Prefix32.hash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Md5Prefix32.hash($s);")

  override def prettyName: String = "md5_prefix32"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Prefix32 {

  /** One digest instance per executor thread, reset per call — MessageDigest
    * is stateful and not thread-safe, and `getInstance` per row would be a
    * provider lookup per gram.
    */
  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** First 4 digest bytes as an unsigned big-endian int (== the first 8
    * lowercase-hex chars parsed base-16, which is what `md5()` prints).
    */
  def hash(u: UTF8String): Long = {
    val b = u.getBytes // copies only when the UTF8String is offset
    hashBytes(b, 0, b.length)
  }

  /** Same hash over a byte RANGE — the form the fused per-document gram
    * counters ([[DsirBucketCounts]], [[SpanHash]]) call per token span,
    * with no UTF8String or substring materialized.
    */
  def hashBytes(bytes: Array[Byte], off: Int, len: Int): Long = {
    val d = digest.get()
    d.reset()
    d.update(bytes, off, len)
    val out = d.digest()
    ((out(0) & 0xffL) << 24) | ((out(1) & 0xffL) << 16) |
      ((out(2) & 0xffL) << 8) | (out(3) & 0xffL)
  }

  /** Column-in, Column-out (no SQL string interpolation — Cols bridge). */
  def md5_prefix32(c: Column): Column =
    Cols.column(Md5Prefix32(Cols.expressionOf(c)))
}
