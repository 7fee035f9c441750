package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle-and-hash: the 64-bit hash of every n-token shingle, in
  * ONE codegen'd pass that never materializes a shingle string. One
  * expression, three SQL names, one per [[SpanHash]]:
  *
  *   - `text_shingle_hashes(text, n)` ≡ `transform(text_shingles(text, n),
  *     x -> xxhash64(x))` (q58/q86's postings join, q78's window
  *     frequency, q36/q55's shingle sets);
  *   - `text_shingle_hash64s(text, n)` ≡ `... x -> hash64(x)` (q48's
  *     winnowing);
  *   - `text_shingle_md5p32s(text, n)` ≡ `... x -> md5_prefix32(x)` (q81's
  *     winnowing fingerprint hash).
  *
  * Why: shingle CONSUMERS that only ever hash paid three avoidable costs
  * in the string-array form — a UTF8String allocation per shingle
  * position, an `array_distinct` comparing multi-token STRINGS
  * byte-by-byte, and a shuffle/join carrying ~50-byte shingle strings
  * where 8-byte longs determine the answer. The lambda form additionally
  * dispatches through Catalyst's interpreted higher-order evaluator per
  * element (the CodegenFallback trap: [[TextShingles]] scaladoc, r15
  * text_stats fix). Here each shingle is a byte span ([[TokenSpans]])
  * hashed in place with the SAME function the scalar expression
  * evaluates, so values are bit-identical to the lambda forms
  * (TextShingleHashesSpec and TextShingleKernelHashesSpec pin them).
  *
  * The downstream join/dedup then works on longs; the report never
  * outputs a shingle, so correctness vs the string-keyed oracle rests on
  * the same injective-hash argument as q47/q78 (an XXH64 collision
  * between DISTINCT shingles in one corpus: ~n²/2^65 — ~5e-8 at a
  * million distinct shingles, and such a collision only MERGES two
  * postings lists, the q78-accepted divergence class).
  *
  * Semantics: null text → null; fewer than n tokens → empty array;
  * duplicates kept, order positional (winnowing needs both; wrap in
  * `array_distinct` — codegen'd, and cheaper over longs than strings —
  * for set semantics).
  */
case class TextShingleHashes(child: Expression, n: Int, hash: SpanHash = SpanHash.XxHash64)
    extends TextKernel {
  require(n >= 1, s"${hash.name} n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(text: UTF8String): ArrayData = {
    val t = new TokenSpans(text)
    val out = new Array[Long](t.spans(n))
    var s = 0
    while (s < out.length) { out(s) = hash(t.bytes, t.starts(s), t.end(s, n)); s += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def prettyName: String = hash.name

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The per-span hash of [[TextShingleHashes]], named by its SQL function.
  * An abstract method on a sealed kind, so the hot loop's call returns a
  * primitive long: no boxing, no generic function object.
  */
sealed abstract class SpanHash(val name: String) {
  def apply(bytes: Array[Byte], from: Int, until: Int): Long
}

object SpanHash {

  /** Spark's `xxhash64` (XXH64, seed 42) over the span's bytes. */
  case object XxHash64 extends SpanHash("text_shingle_hashes") {
    def apply(bytes: Array[Byte], from: Int, until: Int): Long =
      XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + from, until - from, 42L)
  }

  /** graft's [[Hash64]]. */
  case object Hash64 extends SpanHash("text_shingle_hash64s") {
    def apply(bytes: Array[Byte], from: Int, until: Int): Long =
      graft.functions.Hash64.hash(UTF8String.fromBytes(bytes, from, until - from))
  }

  /** [[Md5Prefix32]]. */
  case object Md5Prefix32 extends SpanHash("text_shingle_md5p32s") {
    def apply(bytes: Array[Byte], from: Int, until: Int): Long =
      graft.functions.Md5Prefix32.hashBytes(bytes, from, until - from)
  }
}

/** Column helpers built directly from the Catalyst expression (Cols
  * bridge — no SQL string interpolation, r13 ADVICE convention).
  */
object TextShingleHashes {
  def text_shingle_hashes(textCol: String, n: Int): Column =
    Cols.column(TextShingleHashes(Cols.expression(textCol), n))

  def text_shingle_hash64s(textCol: String, n: Int): Column =
    Cols.column(TextShingleHashes(Cols.expression(textCol), n, SpanHash.Hash64))

  def text_shingle_md5p32s(textCol: String, n: Int): Column =
    Cols.column(TextShingleHashes(Cols.expression(textCol), n, SpanHash.Md5Prefix32))
}
