package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `argmin_l2` against the relational form it replaces: a join of every
  * point to its group's centroids, `round(l2_sq(v, cv), 6)`, then the
  * minimum by (dist2, cid). Checked on generated code and on interpreted
  * eval, over seeded vectors plus the cases the kernel's shortcuts must
  * get right: duplicate centroids under different cids (the tie), a
  * candidate that ties the incumbent only after rounding (the
  * `best + 5e-7` early-exit bound), a candidate abandoned mid-vector, a
  * group with no centroids, and a null vector or group.
  */
class ArgminL2Spec extends SparkSpec {

  import spark.implicits._

  private val dims = 8

  /** (group, cid, cv): three groups of seeded centroids; group 3 has none. */
  private val centroids: Seq[(Int, Int, Array[Double])] = {
    val r = new scala.util.Random(18)
    val seeded = for (g <- 0 until 3; cid <- 0 until 6)
      yield (g, 10 * g + cid + 20, Array.fill(dims)(r.nextGaussian()))
    val unit = Array.tabulate(dims)(i => if (i == 0) 1.0 else 0.0)
    seeded ++ Seq(
      // group 0: cid 20's vector again under cids 9 and 4, the smallest last
      (0, 9, seeded.head._3.clone()), (0, 4, seeded.head._3.clone()),
      // group 1, all around the origin: cid 7 at squared distance 1.0; cid 2
      // at 1.0000004, which rounds to 1.0 and wins the tie; cid 1 leaves
      // the bound after its second element
      (1, 7, unit), (1, 2, unit.updated(0, 1.0000002)),
      (1, 1, unit.updated(0, 1.0000002).updated(1, 0.001)))
  }

  private def book = spark.sparkContext.broadcast(ArgminL2.Book(
    Array.tabulate(4)(g => centroids.filter(_._1 == g).map(_._2).toArray),
    Array.tabulate(4)(g => centroids.filter(_._1 == g).flatMap(_._3).toArray)))

  /** (id, group, v): seeded points in every group, the duplicated centroid
    * itself, the origin, a null vector, a null group and a group past the
    * codebook.
    */
  private lazy val points = {
    val r = new scala.util.Random(81)
    val seeded = (0 until 400).map(i => (i.toLong, Option(i % 4),
      Option(Array.fill(dims)(r.nextGaussian() * 1.5))))
    seeded ++ Seq(
      (400L, Option(0), Option(centroids.find(_._2 == 9).get._3)),
      (401L, Option(1), Option(Array.fill(dims)(0.0))),
      (402L, Option(0), None),
      (403L, None, Option(Array.fill(dims)(0.5))),
      (404L, Option(7), Option(Array.fill(dims)(0.5))))
  }.toDF("id", "g", "v")

  private def relational: Map[Long, (Int, Double)] =
    points.join(centroids.toDF("g", "cid", "cv"), "g")
      .select(col("id"), round(L2Distance.l2_sq("v", "cv"), 6).as("dist2"), col("cid"))
      .filter(col("dist2").isNotNull)
      .groupBy("id").agg(min(struct("dist2", "cid")).as("m"))
      .collect()
      .map(r => r.getLong(0) -> (r.getStruct(1).getInt(1), r.getStruct(1).getDouble(0)))
      .toMap

  private def kernel: Map[Long, Option[(Int, Double)]] =
    points.select(col("id"), ArgminL2.argmin_l2(col("v"), col("g"), book).as("m"))
      .collect()
      .map(r => r.getLong(0) ->
        Option(r.getStruct(1)).map(m => (m.getInt(0), m.getDouble(1))))
      .toMap

  for ((mode, confs) <- Seq(
      "generated code" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted eval" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false"))) {
    test(s"argmin_l2 equals the relational argmin ($mode)") {
      val want = relational
      val got = withConfs(confs: _*)(kernel)
      assert(got.keySet === points.select("id").as[Long].collect().toSet)
      for ((id, m) <- got) assert(m === want.get(id), s"point $id")
      // the edge cases, by value
      assert(got(400L) === Some((4, 0.0)))
      assert(got(401L) === Some((2, 1.0)))
      Seq(402L, 403L, 404L).foreach(id => assert(got(id) === None, s"point $id"))
      assert((0 until 400).filter(_ % 4 == 3).forall(i => got(i.toLong).isEmpty))
    }
  }
}
