package graft

/** A long-lived session compiles each query shape once. A mixed workload
  * runs its queries interleaved, so between two runs of one query the
  * others pass through the JVM-wide codegen cache; at Spark's default 100
  * entries these eight queries evict each other and every pass recompiles.
  * `GraftSession.builder` sizes the cache for the whole query surface, and
  * this pins that a warm pass compiles nothing.
  */
class WarmPassSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** Eight registered queries from the ops, text, similarity and multimodal
    * modules, in the order each pass runs them.
    */
  private val mix = Seq(
    "q01_group_agg", "q33_text_quality", "q40_cosine_topk", "q21_window_lag",
    "q91_mp4_demux", "q85_heavy_hitters", "q70_funnel", "q38_ivfpq_ann")

  test("a second interleaved pass of eight queries compiles no class") {
    val tally = new Bench.CpuTally
    spark.sparkContext.addSparkListener(tally)
    try {
      def pass(): Bench.Layers = {
        val before = tally.settled()
        mix.foreach(q => Bench.materialize(SparkEntry.queries(q)(spark, d)))
        tally.settled() - before
      }
      val first = pass()
      val second = pass()
      assert(second.compiles === 0,
        s"warm pass recompiled ${second.compiles} classes " +
          s"(${second.compileNs / 1e6} ms); first pass ${first.compiles}")
    } finally spark.sparkContext.removeSparkListener(tally)
  }
}
