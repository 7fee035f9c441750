package graft.similarity

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
  * (q69: 199 s). `argmin_l2` scans each group's K·d centroid matrix,
  * flattened into one broadcast row, inside the scan row: vectors never
  * leave their scan partition and assignment is exchange-free.
  *
  * Why a driver-local codebook (r17): the ≤K-row codebook always
  * round-tripped the driver inside each broadcast build. Holding it as
  * local arrays moves no new bytes, removes the per-round checkpoint job
  * and second assembly exchange, and keeps lineage from growing across
  * rounds: a round is ONE action, the update's collect, which runs as two
  * jobs (the layout row's broadcast build, then the update). q38 ran 29
  * sequential jobs and q69 15 for under 2 CPU-s before this
  * (OPTIMIZATION_r17.md).
  *
  * Why AQE is off inside the fit (r18): the init collect and each update
  * shuffle carry ≤K·d slim partial rows at any corpus size, so AQE has
  * nothing to coalesce or rewrite, while each stage materialization adds
  * a sequential driver barrier per round. The assignment that callers run
  * after [[fit]] returns executes outside the scope, under AQE.
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
    * jobs, the init collect plus a broadcast build and an update per round.
    */
  def fit(s: SparkSession, points: DataFrame, vec: String,
      group: Option[String], k: Int, iters: Int): Codebook =
    graft.withAqeOff(s, (k + 1023) / 1024) {
      var cb = byKey(points.filter(col("vec_id") < k)
        .select(group.map(col).toSeq ++ Seq(
          col("vec_id").cast("int").as("cid"), col(vec)): _*)
        .collect()
        .map(r => key(r, group) -> r.getSeq[Double](group.size + 1).toArray))
      for (_ <- 1 to iters) cb = update(assign(s, points, vec, group, cb), vec, group)
      cb
    }

  /** `points` plus `cid` and `dist2`: each point's nearest centroid in its
    * group's codebook. A group with no centroids assigns none of its points.
    */
  def assign(s: SparkSession, points: DataFrame, vec: String,
      group: Option[String], codebook: Codebook): DataFrame = {
    val layout = broadcast(layoutDf(s, codebook, group))
    val keep = points.columns.toSeq.map(col)
    group.fold(points.crossJoin(layout))(g => points.join(layout, Seq(g)))
      .select(keep :+ graft.functions.ArgminL2
        .argmin_l2(vec, "cids", "cvs_flat").as("m"): _*)
      .select(keep ++ Seq(col("m.cid").as("cid"), col("m.dist2").as("dist2")): _*)
  }

  /** The codebook as a relation (group?, cid, cv). */
  def codebookDf(s: SparkSession, codebook: Codebook, group: Option[String]): DataFrame =
    s.createDataFrame(
      codebook.toSeq.map(c =>
        Row.fromSeq(group.map(_ => c.group).toSeq ++ Seq(c.cid, c.cv.toSeq))).asJava,
      StructType(groupFields(group) ++ Seq(
        StructField("cid", IntegerType, nullable = false),
        StructField("cv", ArrayType(DoubleType, containsNull = false)))))

  private def groupFields(group: Option[String]): Seq[StructField] =
    group.map(StructField(_, IntegerType, nullable = false)).toSeq

  /** The `argmin_l2` layout: one row per group, (group?, cids, cvs_flat). */
  private def layoutDf(s: SparkSession, codebook: Codebook,
      group: Option[String]): DataFrame =
    s.createDataFrame(
      codebook.groupBy(_.group).toSeq.sortBy(_._1).map { case (g, cs) =>
        Row.fromSeq(group.map(_ => g).toSeq ++
          Seq(cs.map(_.cid).toSeq, cs.flatMap(_.cv).toSeq))
      }.asJava,
      StructType(groupFields(group) ++ Seq(
        StructField("cids", ArrayType(IntegerType, containsNull = false)),
        StructField("cvs_flat", ArrayType(DoubleType, containsNull = false)))))

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
