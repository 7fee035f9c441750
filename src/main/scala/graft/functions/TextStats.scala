package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass text statistics: `text_stats(text)` returns a struct
  * `{n_tokens, n_unique_tokens, n_stopword_tokens, n_subword_tokens,
  * n_punct_chars, n_chars}` — every primitive q32 (token counting) and
  * q33 (quality scoring) needs, computed in ONE codegen'd scan over the
  * UTF-8 bytes with no regex engine and no per-match materialization.
  *
  * Why: the compositional forms were the two largest honest perf gaps on
  * the r14 100× board (q32 36.4 s / q33 109.6 s, cpu exponents 1.47/1.77,
  * 3-10× DuckDB at 10×). `size(regexp_extract_all(text, re))` materializes
  * every match into an array row just to take its length, and the stopword
  * check ran a per-token `isin` inside Catalyst's interpreted higher-order
  * `filter` — per-doc-linear work executed at per-token interpreter cost.
  * This expression is the `text_shingles` pattern (r13, 8-16×) applied to
  * counting: scan bytes, count, allocate only the per-token views the
  * uniqueness set needs.
  *
  * Semantics pinned to the compositional/oracle forms (bit-identical):
  *   - tokens are `split(text, ' ')` with Spark's -1 limit: n_tokens =
  *     (number of 0x20 bytes) + 1, empty tokens counted (consecutive /
  *     leading / trailing spaces), and the empty string has ONE token;
  *   - n_unique_tokens ≡ `size(array_distinct(split(text,' ')))`: exact
  *     byte-equality distinct (a real set, not a hash sketch);
  *   - n_stopword_tokens ≡ `size(filter(split(text,' '), t ->
  *     t.isin(stopwords)))` with the constructor's list;
  *   - n_subword_tokens ≡ `size(regexp_extract_all(text,
  *     '[A-Za-z0-9]{1,4}|[^A-Za-z0-9 ]'))`: a greedy scan — an alnum run
  *     of length L yields ceil(L/4) matches, every other non-space
  *     CODEPOINT yields one (UTF-8 continuation bytes are skipped, so a
  *     multi-byte codepoint counts once, matching the regex engines);
  *   - n_punct_chars ≡ `size(regexp_extract_all(text, '[^A-Za-z0-9 ]'))`;
  *   - n_chars ≡ `length(text)` (codepoints).
  *
  * Scale shape: per-row work is linear in the document's bytes; the only
  * allocations are zero-copy UTF8String token views feeding the
  * uniqueness set. Stays inside whole-stage codegen via the
  * [[TextKernel]] bridge.
  */
case class TextStats(child: Expression, stopwords: Seq[String])
    extends TextKernel {

  override def dataType: DataType = TextStats.Schema

  /** Compiled stopword set (UTF8String equality = byte equality). */
  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](stopwords.size * 2)
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** One pass; shared by interpreted eval and generated code. */
  def compute(text: UTF8String): InternalRow = {
    val bytes = text.getBytes // copies only when the UTF8String is offset
    val len = bytes.length
    val seen = new java.util.HashSet[UTF8String]()
    var nTokens = 1
    var nStop = 0
    var nSubword = 0
    var nPunct = 0
    var alnumRun = 0
    var tokStart = 0
    var i = 0
    def endToken(until: Int): Unit = {
      val tok = UTF8String.fromBytes(bytes, tokStart, until - tokStart)
      seen.add(tok)
      if (stopSet.contains(tok)) nStop += 1
    }
    while (i < len) {
      val b = bytes(i)
      val isAl = (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
        (b >= '0' && b <= '9')
      if (isAl) alnumRun += 1
      else {
        if (alnumRun > 0) { nSubword += (alnumRun + 3) / 4; alnumRun = 0 }
        if (b == ' ') {
          nTokens += 1
          endToken(i)
          tokStart = i + 1
        } else if ((b & 0xC0) != 0x80) { // not a UTF-8 continuation byte:
          nPunct += 1 // one non-alnum non-space codepoint
          nSubword += 1
        }
      }
      i += 1
    }
    if (alnumRun > 0) nSubword += (alnumRun + 3) / 4
    endToken(len)
    new GenericInternalRow(Array[Any](
      nTokens, seen.size, nStop, nSubword, nPunct, text.numChars()))
  }

  override def prettyName: String = "text_stats"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextStats {

  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_unique_tokens", IntegerType, nullable = false),
    StructField("n_stopword_tokens", IntegerType, nullable = false),
    StructField("n_subword_tokens", IntegerType, nullable = false),
    StructField("n_punct_chars", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))

  /** Column helper built directly from the Catalyst expression (no SQL
    * string interpolation — Cols bridge, r13 ADVICE convention).
    */
  def text_stats(textCol: String, stopwords: Seq[String] = Nil): Column =
    Cols.column(TextStats(Cols.expression(textCol), stopwords))
}
