package graft.similarity

import graft.{Bench, SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared Lloyd fit: its job shape (grouped or not), the jobs of the
  * four queries built on it, a second fit's compiles, a fit leaving the
  * session conf alone, and the degenerate corpus whose first-K init is
  * empty.
  */
class LloydSpec extends SparkSpec {

  import spark.implicits._

  /** An embeddings table of random 8-dim vectors, one per id. */
  private def corpus(ids: Seq[Long]): String = {
    val r = new scala.util.Random(5)
    val dir = graft.store.LocalFs.scratchDir("graft-lloyd").toString
    ids.map(i => (i, Array.fill(8)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val d = corpus(0L until 64L)

  private def emb: DataFrame = graft.Tables.embeddings(spark, d)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  // the init collect, then per round the update's map stage and its
  // result: the job chain behind q38/q69/q74/q90's counts
  for (iters <- Seq(1, 2)) {
    test(s"ungrouped and grouped fits with iters = $iters submit 2 * iters + 1 jobs") {
      val (e, sv) = (emb, ProductQuantization.subVectors(spark, d))
      assert(jobsOf(Lloyd.fit(spark, e, "v", None, 8, iters)) === 2 * iters + 1)
      assert(jobsOf(Lloyd.fit(spark, sv, "sv", Some("sub"), 8, iters)) === 2 * iters + 1)
    }
  }

  // each query's fits while it is built, then its result; with the
  // codebook joined as a one-row layout they ran 16, 9, 15–16 and 11 (a
  // broadcast build per assignment after the fit). q74's count moves by
  // one between runs of one plan, on both sides: how many stages and jobs
  // AQE submits for its pair step depends on which stage finishes first
  for ((q, jobs) <- Seq("q38_ivfpq_ann" -> 14, "q69_kmeans" -> 8,
      "q74_semantic_dedup" -> 15, "q90_pq_ann" -> 10)) {
    val exact = q != "q74_semantic_dedup"
    test(s"$q runs ${if (exact) "" else "at most "}$jobs jobs at sf0.001") {
      val run = () => Bench.materialize(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      run()
      val n = jobsOf(run())
      if (exact) assert(n === jobs) else assert(n <= jobs)
    }
  }

  test("a second fit compiles no class") {
    val (e, sv) = (emb, ProductQuantization.subVectors(spark, d))
    def fits(): Unit = {
      Lloyd.assign(spark, e, "v", None, Lloyd.fit(spark, e, "v", None, 8, 2)).collect()
      Lloyd.assign(spark, sv, "sv", Some("sub"),
        Lloyd.fit(spark, sv, "sv", Some("sub"), 8, 2)).collect()
    }
    fits()
    assert(compiles(fits()) === 0)
  }

  private val confKeys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

  test("a fit writes no session conf, also when it throws") {
    val prev = confKeys.map(spark.conf.get)
    val cb = Lloyd.fit(spark, emb, "v", None, 8, 1)
    assert(cb.nonEmpty)
    assert(confKeys.map(spark.conf.get) === prev)
    // no `sv` column: the fit fails
    intercept[Exception](Lloyd.fit(spark, emb, "sv", None, 8, 1))
    assert(confKeys.map(spark.conf.get) === prev)
  }

  // No vec_id < K: the first-K init is empty, as is the DuckDB oracle's
  // answer for every fit query; vec_id 100-163 sits above q69/q74's
  // kmK(64) = 8 and above q38/q90's K = 16.
  private lazy val noInitDir = corpus(100L until 164L)

  for (q <- Seq("q38_ivfpq_ann", "q69_kmeans", "q74_semantic_dedup", "q90_pq_ann")) {
    test(s"$q: a corpus with no vec_id < K returns 0 rows") {
      assert(SparkEntry.queries(q)(spark, noInitDir).collect().isEmpty)
    }
  }
}
