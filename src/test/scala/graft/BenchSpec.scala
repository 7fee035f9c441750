package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's own logic: a broken query must never masquerade as
  * a fast one, and the JSON line must stay parseable whatever an error
  * message contains (the round-6 lesson formalized).
  */
class BenchSpec extends AnyFunSuite {

  test("median of 3 picks the middle rep") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(5.0, 5.0, 0.1)) === 5.0)
  }

  test("hash family is exactly the generated-hash-oracle queries") {
    assert(Bench.HashFamily === Set(
      "q42_minhash_signatures", "q43_minhash_lsh_pairs", "q44_simhash",
      "q48_winnowing_fingerprints", "q63_simhash_pairs",
      "q77_simhash_pairs_blocked"))
    assert(Bench.HashFamily.subsetOf(SparkEntry.queries.keySet),
      "every hash-family name must be a registered query")
  }

  test("headline subset is registered and small enough for the tail window") {
    assert(Bench.Headline.toSet.subsetOf(SparkEntry.queries.keySet),
      "every headline name must be a registered query")
    // the driver archives a 2000-char stdout tail; the whole contract line
    // must fit. Worst case ~34 chars/entry ("name":12345.678) on top of
    // ~900 chars of fixed fields — cap the map's worst-case contribution
    val worst = Bench.Headline.map(_.length + 14).sum
    assert(worst < 700, s"headline map could reach $worst chars; slim it")
  }

  test("a throwing query records its error and never a wall-time") {
    val spark = SparkSpec.session
    val r = Bench.runQuery(spark, "/nonexistent", "boom",
      (s, d) => s.read.parquet(s"$d/nope.parquet"))
    assert(r.err.isDefined)
    assert(r.sec === -1.0)
    assert(r.reps.isEmpty)
  }

  test("cpu tally attributes executor CPU to each rep") {
    val spark = SparkSpec.session
    val tally = new Bench.CpuTally
    spark.sparkContext.addSparkListener(tally)
    try {
      // the literal is inlined into the generated code, so this shape is
      // new to the JVM-wide codegen cache whichever suites ran first
      val r = Bench.runQuery(spark, "unused", "range",
        (s, _) => s.range(2000000).selectExpr("id * 7919 as x").toDF(),
        Some(tally))
      assert(r.err.isEmpty)
      assert(r.cpuReps.size === 3)
      // the warm-up pays the new shape's compiles; the reps reuse them
      val w = r.warm.get
      assert(w.compiles >= 1 && w.compileNs > 0, s"warm-up compiled nothing: $w")
      // every rep burns SOME task CPU, and task CPU can't exceed
      // wall x parallelism (sanity that the units are seconds, not ns);
      // the ceiling derives from the session's actual parallelism (x2
      // slack) so a wider test host can't fail it spuriously
      val maxPar = spark.sparkContext.defaultParallelism
      r.cpuReps.zip(r.reps).foreach { case (cpu, wall) =>
        assert(cpu > 0.0, s"rep burned no CPU: ${r.cpuReps}")
        assert(cpu < wall * maxPar * 2 + 1.0,
          s"cpu $cpu implausible vs wall $wall at parallelism $maxPar")
      }
      // the same listener counts each rep's jobs, stages, tasks and scan
      // input; a parquet-reading query must show all four on every rep,
      // and identical reps must count identical jobs — a straggler event
      // settling into the wrong rep would skew one of them
      val q = Bench.runQuery(spark, "/root/testdata/sf0.001", "q01_group_agg",
        SparkEntry.queries("q01_group_agg"), Some(tally))
      assert(q.err.isEmpty, q.err)
      assert(q.layers.size === 3)
      q.layers.foreach { l =>
        assert(l.jobs >= 1 && l.stages >= 1 && l.tasks >= 1, l)
        assert(l.scanBytes > 0, s"rep read no scan input: $l")
      }
      assert(q.layers.map(_.jobs).distinct.size === 1,
        s"job counts differ between identical reps: ${q.layers.map(_.jobs)}")
      assert(q.layers.forall(_.compiles == 0),
        s"a timed rep recompiled: ${q.layers.map(_.compiles)}")
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("canary reference values stay committed and sane") {
    assert(Bench.CanaryRefCpuSec > 0 && Bench.CanaryRefCpuSec < 5)
    assert(Bench.CanaryRefScanSec > 0 && Bench.CanaryRefScanSec < 5)
  }
}
