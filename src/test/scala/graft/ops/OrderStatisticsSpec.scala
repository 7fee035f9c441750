package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** q88 histogram-selection quantiles vs Scala brute force on adversarial
  * small corpora: heavy duplicates (many values land in one bucket),
  * negatives, narrow ranges, n down to 1, and the all-equal short-circuit.
  * The rank convention (floor(q*(n-1))+1, 1-based) is asserted against a
  * direct sorted-array index, independent of any SQL engine.
  */
class OrderStatisticsSpec extends SparkSpec {

  import spark.implicits._

  private def forAll[A](gen: Gen[A], n: Int)(f: A => Unit): Unit = {
    var seed = Seed(8801L)
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

  // mixtures that stress bucket boundaries: repeated spikes + uniform tail
  private val valuesGen: Gen[List[Double]] = for {
    n <- Gen.choose(1, 400)
    spike <- Gen.choose(-5.0, 5.0)
    spikeShare <- Gen.choose(0, 9)
    vs <- Gen.listOfN(n, Gen.frequency(
      (spikeShare, Gen.const(spike)),
      (10 - spikeShare + 1, Gen.choose(-100.0, 100.0))))
  } yield vs

  private def write(vs: List[Double]): String = {
    val dir = graft.store.LocalFs.scratchDir("graft-os").toString
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("event_id", "value")
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def brute(vs: List[Double]): List[(Double, Double)] = {
    val sorted = vs.sorted.toArray
    OrderStatistics.Quantiles.toList.map { q =>
      (q, sorted(math.floor(q * (vs.size - 1)).toInt))
    }
  }

  test("q88 equals sorted-array selection on adversarial corpora") {
    forAll(valuesGen, 15) { vs =>
      val dir = write(vs)
      graft.Tables.invalidate(dir)
      val got = OrderStatistics.q88ExactQuantiles(spark, dir)
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toList
      assert(got === brute(vs), s"n=${vs.size}")
    }
  }

  test("recursion path (recurseBound=1) matches on adversarial corpora") {
    // every candidate bucket with >1 row triggers pass 2b; output identical
    forAll(valuesGen, 10) { vs =>
      val dir = write(vs)
      graft.Tables.invalidate(dir)
      val got = OrderStatistics.exactQuantiles(spark, dir, recurseBound = 1L)
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toList
      assert(got === brute(vs), s"n=${vs.size}")
    }
  }

  test("pathological bucket — one value repeated ~N times — resolved by 2b") {
    // 5k copies of one value + a sparse tail: the median/p90 ranks land in
    // the repeated-value bucket; with a tiny bound pass 2b fires and the
    // collapsed subbucket (min == max) answers those ranks with NO pass-3
    // sort of the hot bucket.
    val vs = List.fill(5000)(42.0) ++ (1 to 50).map(i => 100.0 + i).toList
    val dir = write(vs)
    graft.Tables.invalidate(dir)
    val got = OrderStatistics.exactQuantiles(spark, dir, recurseBound = 100L)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toList
    assert(got === brute(vs))
    assert(got.count(_._2 == 42.0) >= 2, "ranks should hit the repeated value")
  }

  test("empty corpus returns an empty (quantile, value) frame") {
    val dir = write(Nil)
    graft.Tables.invalidate(dir)
    val got = OrderStatistics.q88ExactQuantiles(spark, dir)
    assert(got.columns.toSeq === Seq("quantile", "value"))
    assert(got.count() === 0)
  }

  test("all-equal corpus short-circuits to the constant") {
    val dir = write(List.fill(50)(7.25))
    graft.Tables.invalidate(dir)
    val got = OrderStatistics.q88ExactQuantiles(spark, dir)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toList
    assert(got === OrderStatistics.Quantiles.map(q => (q, 7.25)).toList)
  }

  test("sf0.001 quantiles are ordered and inside the value range") {
    val d = "/root/testdata/sf0.001"
    val got = OrderStatistics.q88ExactQuantiles(spark, d)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toList
    assert(got.map(_._1) === OrderStatistics.Quantiles.toList)
    assert(got.map(_._2) === got.map(_._2).sorted, "quantiles must be monotone")
  }
}
