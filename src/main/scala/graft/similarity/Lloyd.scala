package graft.similarity

import graft.functions.ArgminL2
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The one Lloyd fit behind every codebook the engine trains: q69/q74's
  * k-means, q90's product quantizer, and q38's IVF coarse quantizer plus
  * residual PQ. A fit runs over `points` — any relation with a `vec_id`
  * and an `array<double>` vector column — either as one codebook or, with
  * `group`, one codebook per value of an int group column (PQ's `sub`),
  * all trained in the same jobs.
  *
  * Deterministic by construction, so DuckDB reproduces every centroid:
  *   - init: the first `k` points per group (`vec_id < k`, id as `cid`);
  *   - assignment: the 6dp-rounded squared L2 argmin, ties on the smaller
  *     `cid`;
  *   - update: the per-(cid, dim) mean of elements rounded 12dp and summed
  *     as DECIMAL(28,12), an order-free sum that gives the same double at
  *     any parallelism.
  *
  * Why `argmin_l2` (r15): the relational assignment, a broadcast join to
  * N·K rows then `min(struct(dist2, cid, v))`, plans as Sort +
  * SortAggregate (a struct-with-array buffer is not UnsafeRow-mutable) and
  * pushed ~49 GB of vector-payload rows through sorts at the 100× board
  * (q69: 199 s). `argmin_l2` scans each group's K·d centroid matrix inside
  * the scan row: vectors never leave their scan partition and assignment
  * is exchange-free.
  *
  * Why a driver-local codebook (r17): the ≤K-row codebook always
  * round-tripped the driver anyway. Holding it as local arrays keeps
  * lineage from growing across rounds: a round is ONE action, the
  * update's collect. q38 ran 29 sequential jobs and q69 15 for under
  * 2 CPU-s before this (OPTIMIZATION_r17.md).
  *
  * Why the codebook reaches `argmin_l2` as a broadcast value: turned back
  * into a one-row relation and broadcast-joined, it cost a build job per
  * round and per assignment, and paying for that job took a session-wide
  * AQE-off scope around the fit, which any query run concurrently on the
  * session planned under. A `SparkContext.broadcast` handle costs no job,
  * reaches each executor once, and is a field of the expression, so every
  * round generates the same code. The fit runs under the session's conf:
  * each round's update is an AQE map stage plus its result, and AQE sizes
  * the update exchange from its actual bytes. A fit is `2·iters + 1` jobs,
  * as it was with the broadcast build under AQE-off; each assignment after
  * the fit has no build job, so q38 runs 16 → 14 jobs, q69 9 → 8, q74
  * 15–16 → 14–15 and q90 11 → 10 (sf0.001, LloydSpec).
  */
object Lloyd {

  /** One centroid; `group` is 0 when the fit is ungrouped. */
  final case class Centroid(group: Int, cid: Int, cv: Array[Double])
  /** Sorted by (group, cid). */
  type Codebook = Array[Centroid]

  /** (group, cid) of a row that starts with (group?, cid). */
  private def key(r: Row, group: Option[String]): (Int, Int) =
    if (group.isDefined) (r.getInt(0), r.getInt(1)) else (0, r.getInt(0))

  private def byKey(cs: Iterable[((Int, Int), Array[Double])]): Codebook =
    cs.toArray.sortBy(_._1).map { case ((g, cid), cv) => Centroid(g, cid, cv) }

  /** Fit `k` centroids (per group) in `iters` rounds: `2 * iters + 1`
    * jobs, the init collect plus an update (a map stage and its result)
    * per round.
    */
  def fit(s: SparkSession, points: DataFrame, vec: String,
      group: Option[String], k: Int, iters: Int): Codebook = {
    var cb = byKey(points.filter(col("vec_id") < k)
      .select(group.map(col).toSeq ++ Seq(
        col("vec_id").cast("int").as("cid"), col(vec)): _*)
      .collect()
      .map(r => key(r, group) -> r.getSeq[Double](group.size + 1).toArray))
    for (_ <- 1 to iters) {
      val book = bookOf(s, cb)
      cb = update(assigned(points, vec, group, cb, book), vec, group)
      book.unpersist()
    }
    cb
  }

  /** `points` plus `cid` and `dist2`: each point's nearest centroid in its
    * group's codebook. A group with no centroids assigns none of its points.
    */
  def assign(s: SparkSession, points: DataFrame, vec: String,
      group: Option[String], codebook: Codebook): DataFrame =
    assigned(points, vec, group, codebook, bookOf(s, codebook))

  private def assigned(points: DataFrame, vec: String, group: Option[String],
      codebook: Codebook, book: Broadcast[ArgminL2.Book]): DataFrame = {
    val groups = codebook.map(_.group).distinct
    val keep = points.columns.toSeq.map(col)
    points.filter(group.fold(lit(groups.nonEmpty))(g => col(g).isin(groups: _*)))
      .select(keep :+ ArgminL2.argmin_l2(col(vec), group.fold(lit(0))(col), book)
        .as("m"): _*)
      .select(keep ++ Seq(col("m.cid").as("cid"), col("m.dist2").as("dist2")): _*)
  }

  /** The codebook as `argmin_l2` reads it, indexed by group. */
  private def bookOf(s: SparkSession, codebook: Codebook): Broadcast[ArgminL2.Book] = {
    val byGroup = codebook.groupBy(_.group).withDefaultValue(Array.empty[Centroid])
    val n = if (codebook.isEmpty) 0 else codebook.map(_.group).max + 1
    s.sparkContext.broadcast(ArgminL2.Book(Array.tabulate(n)(byGroup(_).map(_.cid)),
      Array.tabulate(n)(byGroup(_).flatMap(_.cv))))
  }

  /** The codebook as a relation (group?, cid, cv). */
  def codebookDf(s: SparkSession, codebook: Codebook, group: Option[String]): DataFrame =
    s.createDataFrame(
      codebook.toSeq.map(c =>
        Row.fromSeq(group.map(_ => c.group).toSeq ++ Seq(c.cid, c.cv.toSeq))).asJava,
      StructType(group.map(StructField(_, IntegerType, nullable = false)).toSeq ++ Seq(
        StructField("cid", IntegerType, nullable = false),
        StructField("cv", ArrayType(DoubleType, containsNull = false)))))

  /** One partial-aggregated exchange, collected as ≤K·d slim
    * (group?, cid, dim, m) rows and assembled into vectors here.
    */
  private def update(assigned: DataFrame, vec: String,
      group: Option[String]): Codebook = {
    val o = group.size
    val keys = group.map(col).toSeq :+ col("cid")
    val rows = assigned
      .select(keys :+ posexplode(col(vec)).as(Seq("dim", "x")): _*)
      .groupBy(keys :+ col("dim"): _*)
      .agg((sum(round(col("x"), 12).cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("m"))
      .collect()
    byKey(rows.groupBy(key(_, group))
      .map { case (gc, rs) => gc -> rs.sortBy(_.getInt(o + 1)).map(_.getDouble(o + 2)) })
  }
}
