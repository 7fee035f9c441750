package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Lloyd assignment: `ArgminL2(v, group, book)` returns
  * `struct(cid INT, dist2 DOUBLE)` — the centroid id minimizing the
  * 6dp-ROUNDED squared L2 distance to `v` (ties broken on the smaller
  * cid) among the centroids of the row's `group` in the broadcast
  * codebook: `book.cids(g)` is group g's K centroid ids and `book.flat(g)`
  * their vectors flattened into one `Array[Double]` of K·dims elements (so
  * scanning K candidates touches no per-candidate object at all).
  *
  * Why this exists (r15, the q69 199 s fix): the relational form —
  * `emb JOIN broadcast(cents)` then `groupBy(vec_id).agg(min(struct(
  * dist2, cid, v)))` — materializes N·K rows each carrying the 64-double
  * vector payload, and because a struct-with-array aggregation buffer is
  * not UnsafeRow-mutable, Spark plans it as Sort + SortAggregate: at the
  * 100× board that is ~90M rows × ~550 B ≈ 49 GB pushed through
  * per-partition sorts, the measured scale-killer (199 s, wall exponent
  * 1.32). This expression does the argmin INSIDE one codegen'd scan row:
  * the K·dims centroid matrix reaches each executor once as a broadcast
  * value, vectors never leave their scan partition, and assignment is
  * exchange- and join-free.
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
  * Null/empty: a null vector or group, or a group with no centroids, →
  * null. The codebook is a field, not a child, so every round's handle
  * generates the same code (a reference object): a new fit compiles
  * nothing. There is no SQL form; [[graft.similarity.Lloyd]] builds it.
  */
case class ArgminL2(v: Expression, group: Expression, book: Broadcast[ArgminL2.Book])
    extends BinaryExpression {

  override def left: Expression = v
  override def right: Expression = group

  override def dataType: DataType = ArgminL2.Schema
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (v.dataType, group.dataType) match {
    case (ArrayType(DoubleType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"argmin_l2 expects (array<double>, int), got $other")
  }

  @transient private lazy val cb = book.value

  /** One pass; shared by interpreted eval and generated code. The query
    * vector is a per-row GenericArrayData (built by the upstream cast
    * transform) whose getDouble unboxes — one toDoubleArray per row
    * converts K·dims boxed reads into dims.
    */
  def compute(vec: ArrayData, g: Int): InternalRow = {
    if (g < 0 || g >= cb.cids.length || cb.cids(g).isEmpty) return null
    val ids = cb.cids(g)
    val flat = cb.flat(g)
    val dims = vec.numElements()
    val vv = vec.toDoubleArray()
    var bestCid = 0
    var bestD2 = Double.MaxValue
    var c = 0
    while (c < ids.length) {
      val base = c * dims
      var sum = 0.0
      var i = 0
      // early-exit bound: past best + 5e-7 the rounded value must exceed
      // the incumbent (see scaladoc), so the remaining dims cannot matter
      val bound = bestD2 + 5e-7
      while (i < dims && sum <= bound) {
        val d = vv(i) - flat(base + i)
        sum += d * d
        i += 1
      }
      if (i == dims && sum <= bound) {
        // exactly Spark's round(x, 6): BigDecimal.valueOf + HALF_UP
        val d2 = java.math.BigDecimal.valueOf(sum)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val cid = ids(c)
        if (d2 < bestD2 || (d2 == bestD2 && cid < bestCid)) {
          bestD2 = d2
          bestCid = cid
        }
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestCid, bestD2))
  }

  override def nullSafeEval(vec: Any, g: Any): Any =
    compute(vec.asInstanceOf[ArrayData], g.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("argminL2Expr", this, classOf[ArgminL2].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = $ref.compute($a, $b);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override def prettyName: String = "argmin_l2"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(v = newLeft, group = newRight)
}

object ArgminL2 {

  /** A codebook as `argmin_l2` reads it, indexed by group: `cids(g)` and
    * `flat(g)` (K·dims doubles in cid order); a group with no centroids
    * holds empty arrays.
    */
  final case class Book(cids: Array[Array[Int]], flat: Array[Array[Double]])

  val Schema: StructType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("dist2", DoubleType, nullable = false)))

  def argmin_l2(v: Column, group: Column, book: Broadcast[Book]): Column =
    Cols.column(ArgminL2(Cols.expressionOf(v), Cols.expressionOf(group), book))
}
