package graft.functions

import graft.SparkSpec
import graft.functions.DecimalKernels.{dec, dec_mul, dec_sum}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, EvalMode,
  Expression, JoinedRow, NumericEvalContext}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, Sum}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `dec`, `dec_mul` and `dec_sum` return Spark's own cast, product and
  * sum, value for value, under generated code (CODEGEN_ONLY: a codegen
  * failure throws instead of falling back) and interpreted evaluation
  * (NO_CODEGEN, whole-stage codegen off), and raise Spark's error
  * classes under ANSI.
  */
class DecimalKernelSpec extends SparkSpec {

  import spark.implicits._

  private val modes = Seq(
    "codegen" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  private def eachMode(ansi: Boolean)(body: String => Unit): Unit =
    modes.foreach { case (name, confs) =>
      withConfs(confs :+ ("spark.sql.ansi.enabled" -> ansi.toString): _*)(body(name))
    }

  /** (p, s) targets: the engine's contracts and the edges of p ≤ 18. */
  private val targets = Seq((8, 2), (4, 2), (18, 6), (18, 0), (12, 4), (1, 0))

  /** ≥ 10⁶ seeded doubles: 2-decimal values, ±.xx5 ties, ±0, subnormals,
    * NaN, ±Inf, every target's ±10^(p−s) neighbourhood, values across
    * magnitudes and random bit patterns.
    */
  private lazy val doubles: Array[Double] = {
    val r = new java.util.Random(14)
    val edges = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MaxValue, Double.MinValue) ++
      targets.flatMap { case (p, s) =>
        val top = math.pow(10, p - s)
        val unit = math.pow(10, -s)
        Seq(top, top - unit, top - unit / 2, top - unit / 2 - unit / 4, top + unit)
          .flatMap(v => Seq(v, Math.nextUp(v), Math.nextDown(v)))
          .flatMap(v => Seq(v, -v))
      }
    val n = 1 << 20
    val out = new Array[Double](n)
    edges.copyToArray(out)
    var i = edges.size
    while (i < n) {
      out(i) = i % 6 match {
        case 0 => r.nextInt(2000000000) / 100.0 - 1e7                       // 2-decimal
        case 1 => (2L * r.nextInt(200000000) + 1) / 200.0 * (if (r.nextBoolean()) 1 else -1) // .xx5
        case 2 => java.lang.Double.longBitsToDouble(r.nextLong())           // any bits
        case 3 => java.lang.Double.longBitsToDouble(r.nextLong() & 0x800fffffffffffffL) // subnormal
        case 4 => (r.nextDouble() - 0.5) * math.pow(10, r.nextInt(40) - 20) // magnitudes
        case _ => (r.nextInt(2000001) - 1000000) / 1000.0 + 5e-4            // 3-decimal ties
      }
      i += 1
    }
    out
  }

  private def mismatches(df: DataFrame, pairs: Seq[(Column, Column)]): Seq[Long] = {
    val row = df.select(pairs.map { case (a, b) => sum(when(a <=> b, 0).otherwise(1)) }: _*)
      .head()
    pairs.indices.map(i => row.getLong(i))
  }

  test("dec equals Spark's cast on 2^20 seeded doubles, every target, both eval paths") {
    eachMode(ansi = false) { mode =>
      val df = spark.sparkContext.parallelize(doubles.toSeq, 4).toDF("x")
      val pairs = targets.map { case (p, s) =>
        (dec(col("x"), p, s), col("x").cast(DecimalType(p, s)))
      }
      assert(mismatches(df, pairs) === targets.map(_ => 0L), s"$mode: per target $targets")
      // the fast path really settles the common values, and nulls are Spark's
      val nulls = df.select(count(when(dec(col("x"), 8, 2).isNull, 1))).head().getLong(0)
      assert(nulls === df.select(count(when(col("x").cast("decimal(8,2)").isNull, 1)))
        .head().getLong(0), mode)
    }
  }

  private def conditionOf(body: => Any): String = {
    val e = intercept[Throwable](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.getOrElse(fail(s"no error condition in $e"))
  }

  /** The rows, or the error condition the query raises. */
  private def outcome(df: DataFrame): Either[String, Seq[Row]] =
    try Right(df.collect().toSeq)
    catch { case _: Throwable => Left(conditionOf(df.collect())) }

  test("dec raises the cast's ANSI overflow error, and is null where the cast is") {
    eachMode(ansi = true) { mode =>
      Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e6, -999999.995,
        1e20, 999999.99, -999999.994, 0.005, -0.005).foreach { v =>
        val df = Seq(1.0, v).toDF("x")
        val theirs = outcome(df.select(col("x").cast("decimal(8,2)")))
        assert(outcome(df.select(dec(col("x"), 8, 2))) === theirs, s"$mode, $v")
        // finite overflow raises; NaN and ±Inf are null even under ANSI
        assert(theirs.isLeft === Seq(1e6, -999999.995, 1e20).contains(v), s"$mode, $v")
      }
    }
  }

  test("dec_mul equals Spark's decimal product, nulls included") {
    val r = new java.util.Random(15)
    val rows = (0 until 20000).map { i =>
      def v(scale: Int, digits: Int) =
        if (i % 97 == 0) None
        else Some((r.nextLong() % math.pow(10, digits).toLong) / math.pow(10, scale))
      (v(2, 8), v(2, 5), v(3, 9), v(5, 8))
    }
    eachMode(ansi = true) { mode =>
      val df = rows.toDF("a", "b", "c", "d")
        .select(col("a").cast("decimal(8,2)").as("a"), col("b").cast("decimal(5,2)").as("b"),
          col("c").cast("decimal(9,3)").as("c"), col("d").cast("decimal(8,5)").as("d"))
      val pairs = Seq(
        (dec_mul(col("a"), col("b")), col("a") * col("b")),
        (dec_mul(col("c"), col("d")), col("c") * col("d")),
        (dec_mul(col("b"), col("b")), col("b") * col("b")))
      assert(mismatches(df, pairs) === Seq(0L, 0L, 0L), mode)
      assert(df.select(dec_mul(col("c"), col("d"))).schema.head.dataType ===
        df.select(col("c") * col("d")).schema.head.dataType)
    }
  }

  test("dec_sum equals sum: nulls, empty and all-null groups, the carry, many partitions") {
    val r = new java.util.Random(16)
    val big = 999999999999999999L
    val rows =
      (0 until 30000).map(i => (i % 50, if (i % 7 == 0) None
        else Some(BigDecimal(r.nextLong() % 100000000000L, 6)))) ++
      (0 until 40).map(i => (100, Some(BigDecimal(big - i)))) ++       // through the carry
      (0 until 40).map(i => (101, Some(BigDecimal(if (i % 3 == 0) -big else big)))) ++
      Seq((102, None), (102, None))                                    // all-null group
    eachMode(ansi = true) { mode =>
      val raw = rows.toDF("g", "v").repartition(4)
      // the carry groups (g ≥ 100) only fit decimal(18,0)
      Seq("decimal(17,6)" -> 100, "decimal(9,2)" -> 100, "decimal(18,0)" -> 103).foreach {
        case (t, gMax) =>
        val df = raw.filter(col("g") < gMax).select(col("g"), col("v").cast(t).as("v"))
        val ours = df.groupBy("g").agg(dec_sum(col("v")).as("s")).orderBy("g")
        val theirs = df.groupBy("g").agg(sum(col("v")).as("s")).orderBy("g")
        assert(ours.schema === theirs.schema, s"$mode $t")
        assert(ours.collect() === theirs.collect(), s"$mode $t")
        // a global aggregate over no rows is null, as sum's
        assert(df.filter(lit(false)).agg(dec_sum(col("v"))).head() === Row(null), s"$mode $t")
      }
      val carried = raw.filter(col("g") === 100).select(col("v").cast("decimal(18,0)").as("v"))
        .agg(dec_sum(col("v"))).head().getDecimal(0)
      assert(carried === (0 until 40).map(i => BigDecimal(big - i)).sum.bigDecimal, mode)
    }
  }

  /** Folds `xs` into one buffer of `f` (whose child is `x`), then doubles
    * that buffer `merges` times by merging it with itself, and evaluates:
    * the buffer logic of the aggregate itself, interpreted.
    */
  private def foldAndDouble(f: DeclarativeAggregate, x: AttributeReference,
      xs: Seq[Decimal], merges: Int): Any = {
    def bind(e: Expression, attrs: Seq[AttributeReference]) =
      BindReferences.bindReference(e, attrs)
    val upd = f.updateExpressions.map(bind(_, f.aggBufferAttributes :+ x))
    val mrg = f.mergeExpressions.map(bind(_, f.aggBufferAttributes ++ f.inputAggBufferAttributes))
    val out = bind(f.evaluateExpression, f.aggBufferAttributes)
    var buf: InternalRow = InternalRow.fromSeq(f.initialValues.map(_.eval()))
    xs.foreach { v =>
      val row = new JoinedRow(buf, InternalRow(v))
      buf = InternalRow.fromSeq(upd.map(_.eval(row)))
    }
    (0 until merges).foreach { _ =>
      val row = new JoinedRow(buf, buf)
      buf = InternalRow.fromSeq(mrg.map(_.eval(row)))
    }
    out.eval(buf)
  }

  test("dec_sum overflows past p+10 digits as sum does: null, or sum's ANSI error") {
    val x = AttributeReference("x", DecimalType(18, 0))()
    val xs = Seq(Decimal(999999999999999999L, 18, 0), Decimal(-3L, 18, 0))
    def both(mode: EvalMode.Value, merges: Int): (() => Any, () => Any) =
      (() => foldAndDouble(DecimalSum(x, mode), x, xs, merges),
        () => foldAndDouble(Sum(x, NumericEvalContext(mode)), x, xs, merges))
    // 2^33 · ~1e18 < 10^28: in range, equal
    val (ours, theirs) = both(EvalMode.ANSI, 33)
    assert(ours() === theirs())
    assert(ours() === Decimal(BigDecimal(999999999999999996L) * BigDecimal(2).pow(33)))
    // 2^34 · ~1e18 ≥ 10^28: overflow
    val (oursL, theirsL) = both(EvalMode.LEGACY, 34)
    assert(theirsL() === null)
    assert(oursL() === null)
    val (oursA, theirsA) = both(EvalMode.ANSI, 34)
    assert(conditionOf(oursA()) === conditionOf(theirsA()))
  }

  test("the kernels refuse inputs they cannot keep exact") {
    val df = Seq((1.0, 2L)).toDF("x", "n")
    intercept[Exception](df.select(dec(col("n"), 8, 2)).collect())
    intercept[Exception](df.select(dec_mul(col("x").cast("decimal(10,2)"),
      col("x").cast("decimal(8,2)"))).collect())
    intercept[Exception](df.agg(dec_sum(col("x").cast("decimal(19,2)"))).collect())
    intercept[IllegalArgumentException](dec(col("x"), 19, 2))
  }
}
