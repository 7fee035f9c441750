package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, And, AttributeReference, BinaryExpression,
  BitwiseAnd, BoundReference, Cast, CheckOverflowInSum, Coalesce, EvalMode, Expression, If,
  IsNull, Literal, MakeDecimal, Multiply, RuntimeReplaceable, ShiftRight, UnaryExpression,
  UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Exact decimal arithmetic on compact decimals (precision ≤ 18, one
  * unscaled `long`), without the per-row `BigDecimal` Spark spends on it.
  * The additive aggregates go through DECIMAL for oracle parity (the
  * CoreQueries determinism rules); Spark pays a `Double.toString` and a
  * `BigDecimal` per row for `cast(double AS decimal)` and for a decimal
  * `*`, and its `sum` adds `BigDecimal`s once the input is wider than 8
  * digits (`DecimalAggregates` only rewrites p + 10 ≤ 18). DuckDB does
  * all three in fixed-width integers. On q01 (sf0.1, 4 cores, one JVM,
  * interleaved reps) its double→decimal casts cost ~0.37 s and the decimal(24,4)
  * sum of the product ~0.4 s, against 0.26 s for the scan and the rest.
  *
  *  - `dec(c, p, s)` ≡ `c.cast(decimal(p, s))` for a double `c`, p ≤ 18.
  *  - `dec_mul(a, b)` ≡ `a * b` for decimals whose product type
  *    decimal(p1+p2+1, s1+s2) has p1+p2+1 ≤ 18.
  *  - `dec_sum(c)` ≡ `sum(c)` for a decimal `c` of precision ≤ 18: the
  *    type decimal(p+10, s), null for an empty or all-null group, and
  *    Spark's overflow null/error past p+10 digits.
  *
  * Each returns Spark's value bit for bit; `DecimalKernelSpec` checks
  * them against Spark's own expressions under codegen and interpreted
  * evaluation.
  */
object DecimalKernels {

  def dec(c: Column, precision: Int, scale: Int): Column =
    Cols.column(DecimalCast(Cols.expressionOf(c), DecimalType(precision, scale),
      EvalMode.fromSQLConf(SQLConf.get)))

  def dec_mul(a: Column, b: Column): Column =
    Cols.column(DecimalMultiply(Cols.expressionOf(a), Cols.expressionOf(b)))

  def dec_sum(c: Column): Column =
    Cols.column(DecimalSum(Cols.expressionOf(c), EvalMode.fromSQLConf(SQLConf.get))
      .toAggregateExpression())

  /** `castUnscaled` result for a value only Spark's `Cast` settles. A
    * settled result is below 10^18 in magnitude, so never this.
    */
  final val Unsettled = Long.MinValue

  private val Pow10 = Array.iterate(1L, 19)(_ * 10)
  private val Pow10D = Pow10.map(_.toDouble) // exact: 10^k < 2^63, k ≤ 22

  /** The unscaled value of `cast(d AS decimal(precision, scale))`, or
    * [[Unsettled]].
    *
    * Spark casts through `BigDecimal(Double.toString(d))`, a decimal D
    * within half an ulp of d, then rounds D·10^s HALF_UP. Here
    * x = fl(d·10^s) is one rounding from d·10^s, so |x − D·10^s| ≤
    * 2.3·10⁻¹⁶·|x|; outside 10⁻¹⁵·|x| of a .5 tie both round to the same
    * integer. Left to `Cast`: NaN, ±Inf and |x| ≥ 4·10¹⁵ (where that
    * margin nears a unit), near-ties, and a result of 10^precision or
    * more (Spark's overflow null or error).
    */
  def castUnscaled(d: Double, scale: Int, precision: Int): Long = {
    val x = d * Pow10D(scale)
    val ax = Math.abs(x)
    if (!(ax < 4e15)) return Unsettled
    val fl = Math.floor(ax)
    val frac = ax - fl
    if (Math.abs(frac - 0.5) <= ax * 1e-15) return Unsettled
    val r = (if (frac > 0.5) fl + 1 else fl).toLong
    if (r >= Pow10(precision)) Unsettled
    else if (x < 0) -r
    else r
  }

  /** hi·2^62 + lo, unscaled at `scale`: the exact value of a
    * [[DecimalSum]] buffer.
    */
  def int128(hi: Long, lo: Long, scale: Int): Decimal =
    Decimal(new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi).shiftLeft(62).add(java.math.BigInteger.valueOf(lo)),
      scale))
}

/** `dec(c, p, s)`: Spark's `Cast(double → decimal(p ≤ 18, s))` without
  * the `Double.toString`. [[DecimalKernels.castUnscaled]] settles almost
  * every value in double arithmetic; the rest go through the `Cast` this
  * expression stands for, so NaN, ±Inf, overflow and the ANSI errors are
  * Spark's own.
  */
case class DecimalCast(child: Expression, dataType: DecimalType, evalMode: EvalMode.Value)
    extends UnaryExpression {

  require(dataType.precision <= Decimal.MAX_LONG_DIGITS,
    s"dec: precision ${dataType.precision} > ${Decimal.MAX_LONG_DIGITS}")

  @transient private lazy val sparkCast =
    Cast(BoundReference(0, DoubleType, nullable = false), dataType, None, evalMode)

  override lazy val nullable: Boolean = Cast(child, dataType, None, evalMode).nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"dec expects a double, got ${child.dataType.sql}")

  /** The values `castUnscaled` leaves unsettled: Spark's `Cast`. */
  def slow(d: Double): Decimal =
    sparkCast.eval(InternalRow(d)).asInstanceOf[Decimal]

  override protected def nullSafeEval(v: Any): Any = {
    val d = v.asInstanceOf[Double]
    val u = DecimalKernels.castUnscaled(d, dataType.scale, dataType.precision)
    if (u != DecimalKernels.Unsettled) Decimal.createUnsafe(u, dataType.precision, dataType.scale)
    else slow(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("decCast", this, classOf[DecimalCast].getName)
    val u = ctx.freshName("unscaled")
    nullSafeCodeGen(ctx, ev, d =>
      s"""
         |long $u = graft.functions.DecimalKernels.castUnscaled($d, ${dataType.scale},
         |  ${dataType.precision});
         |if ($u != ${DecimalKernels.Unsettled}L) {
         |  ${ev.value} = org.apache.spark.sql.types.Decimal.createUnsafe($u,
         |    ${dataType.precision}, ${dataType.scale});
         |} else {
         |  ${ev.value} = $ref.slow($d);
         |  ${if (nullable) s"${ev.isNull} = ${ev.value} == null;" else ""}
         |}
       """.stripMargin)
  }

  override def prettyName: String = "dec"

  override protected def withNewChildInternal(newChild: Expression): DecimalCast =
    copy(child = newChild)
}

/** `dec_mul(a, b)`: Spark's exact decimal product as
  * `MakeDecimal(UnscaledValue(a) * UnscaledValue(b), p1+p2+1, s1+s2)`.
  * Both factors are below 10^p in unscaled magnitude, so the long product
  * is below 10^(p1+p2) and cannot overflow; it is the unscaled value of
  * Spark's decimal(p1+p2+1, s1+s2) result.
  */
case class DecimalMultiply(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (a: DecimalType, b: DecimalType)
        if a.precision + b.precision + 1 <= Decimal.MAX_LONG_DIGITS =>
      TypeCheckResult.TypeCheckSuccess
    case (a, b) =>
      TypeCheckResult.TypeCheckFailure(
        s"dec_mul expects decimals with p1 + p2 + 1 ≤ 18, got ${a.sql}, ${b.sql}")
  }

  override lazy val replacement: Expression = {
    val a = left.dataType.asInstanceOf[DecimalType]
    val b = right.dataType.asInstanceOf[DecimalType]
    MakeDecimal(Multiply(UnscaledValue(left), UnscaledValue(right)),
      a.precision + b.precision + 1, a.scale + b.scale)
  }

  override def prettyName: String = "dec_mul"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecimalMultiply =
    copy(left = newLeft, right = newRight)
}

/** `dec_sum(c)`: Spark's `sum` over a decimal(p ≤ 18, s), in two longs.
  *
  * The buffer holds the exact unscaled sum as hi·2^62 + lo with
  * 0 ≤ lo < 2^62: each row adds its unscaled long to lo and carries
  * lo's bits above 62 into hi, so no add can overflow (|x| < 10^18 <
  * 2^62) and the sum is exact at any row count. All slots are longs and
  * a boolean, so the aggregate stays in a codegen'd `HashAggregate` and
  * copying the buffer costs no `BigDecimal` (a decimal(p+10) buffer
  * wider than 18 digits does, on every row). `isEmpty` is `sum`'s: the
  * result is null for an empty or all-null group. The result is
  * `CheckOverflowInSum` of the exact total to decimal(p+10, s), so an
  * overflow nulls, or raises `sum`'s error under ANSI.
  */
case class DecimalSum(child: Expression, evalMode: EvalMode.Value)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  private def in: DecimalType = child.dataType.asInstanceOf[DecimalType]

  override def dataType: DecimalType = DecimalType(in.precision + 10, in.scale) // p + 10 ≤ 28

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case t: DecimalType if t.precision <= Decimal.MAX_LONG_DIGITS =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"dec_sum expects a decimal(p ≤ 18), got ${other.sql}")
  }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  /** (h, n) → (h + ⌊n / 2^62⌋, n mod 2^62). */
  private def carry(h: Expression, n: Expression): Seq[Expression] =
    Seq(Add(h, ShiftRight(n, Literal(62))), BitwiseAnd(n, Literal((1L << 62) - 1)))

  override lazy val updateExpressions: Seq[Expression] =
    if (child.nullable)
      carry(hi, Add(lo, Coalesce(Seq(UnscaledValue(child), Literal(0L))))) :+
        And(isEmpty, IsNull(child))
    else carry(hi, Add(lo, UnscaledValue(child))) :+ Literal(false)

  override lazy val mergeExpressions: Seq[Expression] =
    carry(Add(hi.left, hi.right), Add(lo.left, lo.right)) :+ And(isEmpty.left, isEmpty.right)

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, dataType),
      CheckOverflowInSum(Int128Decimal(hi, lo, in.scale), dataType,
        evalMode != EvalMode.ANSI, origin.context))

  override def prettyName: String = "dec_sum"

  override protected def withNewChildInternal(newChild: Expression): DecimalSum =
    copy(child = newChild)
}

/** hi·2^62 + lo as a decimal(38, scale): [[DecimalSum]]'s exact total. */
case class Int128Decimal(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression {

  override def dataType: DataType = DecimalType(DecimalType.MAX_PRECISION, scale)

  override def nullable: Boolean = false

  override protected def nullSafeEval(h: Any, l: Any): Any =
    DecimalKernels.int128(h.asInstanceOf[Long], l.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) => s"graft.functions.DecimalKernels.int128($h, $l, $scale)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int128Decimal =
    copy(left = newLeft, right = newRight)
}
