package graft.text

import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** q85 heavy hitters: the Misra-Gries superset guarantee on adversarial
  * streams, end-to-end agreement with Scala brute force at small k (where
  * eviction actually triggers), and the plan shape the two-pass design
  * promises (candidate semi join broadcast; exactly one corpus scan in the
  * final pass — pass 1 is materialized behind the localCheckpoint).
  */
class HeavyHittersSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private def forAll[A](gen: Gen[A], n: Int)(f: A => Unit): Unit = {
    var seed = Seed(8501L)
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

  // ---- Misra-Gries summary guarantee, pure streams ----

  // adversarial-ish mix: a few planted heavy keys + a long tail, shuffled,
  // so eviction churns constantly and heavy keys arrive interleaved
  private val streamGen: Gen[(List[String], Int)] = for {
    k <- Gen.choose(3, 12)
    nHeavy <- Gen.choose(0, 3)
    heavy <- Gen.listOfN(nHeavy, Gen.choose(50, 120))
    tailLen <- Gen.choose(20, 300)
    tailKeys <- Gen.listOfN(tailLen, Gen.choose(1, 60).map(v => s"t$v"))
    shuffleSeed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val heavyElems = heavy.zipWithIndex.flatMap { case (cnt, i) =>
      List.fill(cnt)(s"HEAVY$i")
    }
    val rnd = new scala.util.Random(shuffleSeed)
    (rnd.shuffle(heavyElems ++ tailKeys), k)
  }

  test("misraGries: every key with count > N/k survives; sentinel carries N") {
    forAll(streamGen, 60) { case (stream, k) =>
      val out = HeavyHitters.misraGries(k, stream.iterator).toList
      val (sentinels, cands) = out.partition(_._1 == null)
      assert(sentinels.map(_._2) === List(stream.length.toLong))
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong)
      val mustSurvive = exact.filter(_._2 > stream.length.toDouble / k).keys
      val candSet = cands.map(_._1).toSet
      for (key <- mustSurvive)
        assert(candSet.contains(key),
          s"k=$k N=${stream.length} lost heavy key $key (count ${exact(key)})")
      // bounded state: never more than k counters survive
      assert(cands.size <= k)
      // residual counters never exceed true counts (underestimate-only)
      for ((g, c) <- cands) assert(c <= exact(g))
    }
  }

  // ---- end-to-end agreement with brute force at small k ----

  private case class Doc(id: Long, toks: Vector[String])
  private val corpusGen: Gen[List[Doc]] = for {
    nDocs <- Gen.choose(3, 8)
    vocab <- Gen.choose(2, 5)
    docs <- Gen.sequence[List[Doc], Doc]((1 to nDocs).map { i =>
      for {
        len <- Gen.choose(1, 30)
        toks <- Gen.listOfN(len, Gen.choose(1, vocab).map(v => s"t$v"))
      } yield Doc(i.toLong, toks.toVector)
    })
  } yield docs

  private def write(docs: List[Doc]): String = {
    val dir = graft.store.LocalFs.scratchDir("graft-hh").toString
    docs.map(d => (d.id, d.toks.mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("a"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(3) // multiple partitions => real summary merge
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q85 core equals Scala brute force at k where eviction triggers") {
    forAll(corpusGen, 12) { docs =>
      val dir = write(docs)
      val k = 4
      val got = HeavyHitters.heavyHitters(spark, dir, k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toList
      val grams = docs.flatMap(d => d.toks.sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")))
      val total = grams.length.toDouble
      val want = grams.groupBy(identity).view.mapValues(_.size.toLong)
        .filter(_._2 > total / k).toList
        .sortBy { case (g, n) => (-n, g) }
      assert(got === want)
    }
  }

  // ---- plan shape ----

  test("q85 plan: broadcast semi join on candidates, one scan in final pass") {
    val df = HeavyHitters.q85HeavyHitters(spark, "/root/testdata/sf0.001")
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.exists(_.joinType.sql == "LEFT SEMI"),
      s"candidate semi join must broadcast:\n$plan")
    val smj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"no sort-merge join expected:\n$plan")
    val scans = collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"final pass must scan the corpus exactly once (pass 1 is behind the " +
        s"localCheckpoint), saw ${scans.size}:\n$plan")
  }
}
