package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The tokens of one text exactly as `split(text, ' ')` cuts them, found
  * on the UTF-8 bytes with no decode: Spark's -1 limit, so consecutive,
  * leading and trailing spaces make empty tokens, and the empty string is
  * one (empty) token. Every text kernel in this package walks its spans
  * here.
  *
  * The structural identity they all rest on: tokens are split on single
  * spaces, so n consecutive tokens re-joined with single spaces are
  * EXACTLY the original byte span from the start of the first token to
  * the end of the last, empty tokens included. An n-token shingle is
  * therefore the span `[starts(s), end(s, n))` of the input: it can be
  * emitted or hashed in place, never re-joined. 0x20 cannot occur inside
  * a multi-byte UTF-8 sequence, so a span never cuts a code point.
  */
final class TokenSpans(text: UTF8String) {

  /** The text's bytes (copied only when the UTF8String is an offset view). */
  val bytes: Array[Byte] = text.getBytes

  /** Token start offsets: 0, then every byte after a space. */
  val starts: Array[Int] = {
    var m = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') m += 1; i += 1 }
    val out = new Array[Int](m)
    m = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { out(m) = i + 1; m += 1 }
      i += 1
    }
    out
  }

  /** Number of n-token spans: one per start with n − 1 tokens after it. */
  def spans(n: Int): Int = math.max(starts.length - n + 1, 0)

  /** Exclusive byte end of the n-token span that starts at token `s`. */
  def end(s: Int, n: Int): Int =
    if (s + n < starts.length) starts(s + n) - 1 else bytes.length

  /** That span as a UTF8String view over [[bytes]] (no copy). */
  def utf8(s: Int, n: Int): UTF8String =
    UTF8String.fromBytes(bytes, starts(s), end(s, n) - starts(s))
}

/** A native expression over one string column. It carries what every
  * text kernel shares: the string type check, null in → null out, and
  * the codegen bridge. Generated code calls [[compute]] on the
  * expression object itself (`addReferenceObj`), so the kernel stays
  * inside whole-stage codegen (no CodegenFallback, no higher-order
  * function) with one implementation for both paths.
  */
abstract class TextKernel extends UnaryExpression {

  /** The value for one non-null text; shared by eval and generated code. */
  def compute(text: UTF8String): Any

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckSuccess
    case other => TypeCheckFailure(s"$prettyName expects string, got ${other.sql}")
  }

  override def nullSafeEval(text: Any): Any = compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, classOf[TextKernel].getName)
    val cast = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = ($cast) $ref.compute($t);")
  }
}
