package graft.text

import graft.SparkSpec
import graft.functions.BloomFunctions
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** q86 bloom-prefiltered decontamination: the bloom surface's
  * no-false-negative contract, exact output equality with q58 (whose SQL is
  * also q86's oracle), and the plan property the operator exists for — the
  * bloom probe filters INSIDE the probe-side scan stage, before any
  * exchange.
  */
class BloomDecontaminationSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private def forAll[A](gen: Gen[A], n: Int)(f: A => Unit): Unit = {
    var seed = Seed(8601L)
    var done = 0
    var attempts = 0
    while (done < n && attempts < n * 20) {
      gen.apply(Gen.Parameters.default.withSize(40), seed).foreach { a =>
        f(a); done += 1
      }
      seed = seed.next
      attempts += 1
    }
    assert(done === n, s"generator produced only $done/$n samples")
  }

  private val keysGen: Gen[(List[String], List[String])] = for {
    nIn <- Gen.choose(1, 200)
    inserted <- Gen.listOfN(nIn, Gen.alphaNumStr.map("k" + _))
    nProbe <- Gen.choose(1, 50)
    absent <- Gen.listOfN(nProbe, Gen.alphaNumStr.map("ABSENT-" + _))
  } yield (inserted, absent)

  test("bloom_agg/bloom_contains: inserted keys always test positive") {
    forAll(keysGen, 15) { case (inserted, absent) =>
      val df = inserted.toDF("k")
      val bf = df.agg(BloomFunctions
          .bloomAgg(xxhash64(col("k")), 1L << 12, 1L << 16).as("bf"))
        .head.getAs[Array[Byte]]("bf")
      val probed = (inserted ++ absent).distinct.toDF("k")
        .select(col("k"),
          BloomFunctions.bloomContains(lit(bf), xxhash64(col("k")))
            .as("hit"))
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      for (k <- inserted)
        assert(probed(k), s"false negative on inserted key $k")
      // sized at fpp << 1 here; absent keys must not ALL pass (filter
      // degenerating to TRUE would make the prefilter vacuous)
      if (absent.nonEmpty)
        assert(absent.exists(k => !probed.getOrElse(k, true)) || absent.size < 3,
          "every absent key passed - filter reads as saturated at tiny load")
    }
  }

  test("q86 output is exactly q58's on sf0.001") {
    val d = "/root/testdata/sf0.001"
    val q58 = TextQueries.q58Decontamination(spark, d)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toList
    val q86 = TextQueries.q86BloomDecontamination(spark, d)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toList
    assert(q86 === q58)
    assert(q58.nonEmpty && q58.exists(_._2) && q58.exists(!_._2),
      "fixture corpus must exercise both flag values")
  }

  test("q86 plan: bloom probe filters in the scan stage, below any exchange") {
    val df = TextQueries.q86BloomDecontamination(spark, "/root/testdata/sf0.001")
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan
    val bloomFilters = collectWithSubqueries(plan) {
      case f: FilterExec if f.condition.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]) => f
    }
    assert(bloomFilters.nonEmpty, s"no bloom probe in plan:\n$plan")
    for (f <- bloomFilters)
      assert(f.collectFirst { case e: ShuffleExchangeExec => e }.isEmpty,
        s"bloom probe must sit below the exchange, not above it:\n$f")
    // r17: the train side is checkpointed (one build feeds the bloom AND
    // the semi join), and Catalyst's constraint inference copies the
    // bloom predicate across the join key onto that ExistingRDD relation
    // — harmless (an equal train shingle passes the same bloom). The
    // operator's contract is that the PROBE side drops rows inside its
    // parquet scan stage: at least one bloom filter must sit there.
    assert(bloomFilters.exists(
      _.collectFirst { case s: FileSourceScanExec => s }.nonEmpty),
      s"the probe-side bloom filter must sit in the scan stage:\n$plan")
  }
}
