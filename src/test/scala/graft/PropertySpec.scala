package graft

import graft.domain.{Backtest, GameAnalytics}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5 plan): dedup (A6/A7), window features (W1–W4),
  * and the sidebet labeler (D4) hold their invariants on generated data,
  * not just hand-picked fixtures. (The scalatest-scalacheck bridge isn't on
  * the offline classpath, so sampling is driven directly with seeded Gens —
  * deterministic across runs.)
  */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private def forAll[A](gen: Gen[A], n: Int = 10)(f: A => Unit): Unit = {
    var seed = Seed(42L)
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

  private val pricesGen: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.choose(1, 5000).map(_ / 100.0))

  test("property: dedup-best-row keeps exactly one row per key, the maximal one") {
    val rowsGen = Gen.nonEmptyListOf(for {
      k <- Gen.choose(0, 5)
      v <- Gen.choose(0, 1000)
      ts <- Gen.choose(0, 1000)
    } yield (s"k$k", v, ts))
    forAll(rowsGen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((k, v, ts), i) => (k, v, ts, i.toLong) }
        .toDF("key", "v", "ts", "uid")
      val w = Window.partitionBy("key").orderBy(desc("v"), desc("ts"), asc("uid"))
      val kept = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn").collect()
      val byKey = rows.groupBy(_._1)
      assert(kept.length === byKey.size) // exactly one per key
      kept.foreach { r =>
        val grp = byKey(r.getString(0))
        val best = grp.map(t => (t._2, t._3)).max // (v, ts) lexicographic
        assert((r.getInt(1), r.getInt(2)) === best)
      }
    }
  }

  test("property: running max is monotone and bounds the value (W3/W4)") {
    forAll(pricesGen) { prices =>
      val df = prices.zipWithIndex.map { case (p, i) => (i, p) }.toDF("seq", "p")
      val w = Window.orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
      val got = df.withColumn("runmax", max(col("p")).over(w))
        .orderBy("seq").collect()
        .map(r => (r.getDouble(1), r.getDouble(2)))
      got.foreach { case (p, m) => assert(m >= p) }
      got.map(_._2).toList.sliding(2).foreach {
        case List(a, b) => assert(b >= a)
        case _ =>
      }
      assert(got.last._2 === prices.max)
    }
  }

  test("property: rug tick is the argmax of single-tick drops, earliest on ties") {
    forAll(pricesGen.suchThat(_.length >= 2)) { prices =>
      val df = Seq((1L, prices)).toDF("game_id", "prices")
      val row = GameAnalytics.withRugTick(df).head()
      val drops = prices.sliding(2).map { case Seq(a, b) => a - b }.toList
      val best = drops.max
      assert(row.getAs[Double]("rug_drop") === best)
      assert(row.getAs[Int]("rug_tick") === drops.indexOf(best) + 1)
    }
  }

  test("property: sidebet labeler wins exactly the bets whose window holds the rug") {
    val caseGen = for {
      rug <- Gen.choose(0, 400)
      start <- Gen.choose(0, 400)
      amount <- Gen.choose(1, 100).map(_ / 10.0)
    } yield (rug, start, amount)
    forAll(Gen.nonEmptyListOf(caseGen)) { cases =>
      val games = cases.zipWithIndex.map { case ((rug, start, amt), i) =>
        (s"g$i", i.toLong, 500, rug,
          Seq((s"p$i", s"u$i", amt, 5, start, start + 39, "standard")))
      }.toDF("game_id", "timestamp", "duration_ticks", "rug_tick", "sidebets")
      // sidebetsLabeled expects the dedup-games shape; drive the labeler core
      val labeled = games
        .select(col("game_id"), col("duration_ticks").as("game_duration"),
          col("timestamp"), col("rug_tick"), explode(col("sidebets")).as("sb"))
        .select(col("game_id"), col("rug_tick"),
          col("sb._5").as("start_tick"), col("sb._3").as("bet_amount"))
        .withColumn("bet_won",
          col("rug_tick") >= col("start_tick") &&
            col("rug_tick") <= col("start_tick") + GameAnalytics.SidebetWindowTicks - 1)
        .collect()
      labeled.foreach { r =>
        val (rug, start) = (r.getAs[Int]("rug_tick"), r.getAs[Int]("start_tick"))
        assert(r.getAs[Boolean]("bet_won") === (rug >= start && rug <= start + 39))
      }
    }
  }

  test("property: martingale stops after its first win; pnl accounting closes") {
    val caseGen = for {
      duration <- Gen.choose(50, 500)
      rug <- Gen.choose(10, 500)
      entry <- Gen.choose(0, 400)
      maxBets <- Gen.choose(1, 4)
    } yield (duration, math.min(rug, duration), entry, maxBets)
    forAll(Gen.nonEmptyListOf(caseGen)) { cases =>
      val df = cases.zipWithIndex.map { case ((dur, rug, entry, _), i) =>
        (s"g$i", i.toLong, dur, rug)
      }.toDF("game_id", "timestamp", "duration_ticks", "rug_tick")
      val maxBets = cases.head._4
      val entry = cases.head._3 // one strategy config applies to every game
      val base = 0.01
      val res = Backtest.evaluateStrategy(df, entry, maxBets, base)
        .collect().map(r => r.getAs[String]("game_id") -> r).toMap
      cases.zipWithIndex.foreach { case ((dur, rug, _, _), i) =>
        val r = res(s"g$i")
        val schedule = (1 to maxBets).map(b =>
          (entry + (b - 1) * 45, base * math.pow(2, b - 1)))
        val winIdx = schedule.indexWhere { case (st, _) =>
          dur > st && rug >= st && rug <= st + 39 } // unplaceable can't win
        val placed = schedule.filter { case (st, _) =>
          dur > st && (winIdx < 0 || st <= schedule(winIdx)._1) }
        val expectedPnl =
          (if (winIdx >= 0) schedule(winIdx)._2 * 6 else 0.0) -
            placed.map(_._2).sum
        assert(r.getAs[Boolean]("won") === (winIdx >= 0), s"g$i won")
        assert(math.abs(r.getAs[Double]("pnl") - expectedPnl) < 1e-12, s"g$i pnl")
        assert(r.getAs[Int]("n_bets_placed") === placed.size, s"g$i placed")
      }
    }
  }

  test("property: withShingles equals the sliding-window reference on random docs") {
    val docGen = Gen.nonEmptyListOf(Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
      .map(_.mkString(" "))
    forAll(Gen.nonEmptyListOf(docGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.similarity.SimilarityQueries.withShingles(df)
        .select("doc_id", "shingles").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val toks = t.split(" ").toList
        if (toks.length >= 3) {
          val expected = toks.sliding(3).map(_.mkString(" ")).toList.distinct
          assert(got(i.toLong) === expected, s"doc $i")
        } else assert(!got.contains(i.toLong)) // filtered out
      }
    }
  }

  test("property: native minhash/simhash match direct reference computations") {
    // reference model: the CharSequence form of the base hash (the
    // expressions run the UTF8String byte-walking form — Hash64Spec pins
    // the two forms equal and pins known vectors independently)
    def xxh(s: String, seed: Long): Long = graft.functions.Hash64.hash(s)
    val shingleListGen = Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)).map(_.distinct)
    forAll(Gen.nonEmptyListOf(shingleListGen), n = 5) { docs =>
      val df = docs.zipWithIndex.map { case (sh, i) => (i.toLong, sh) }
        .toDF("id", "shingles")
      val k = 8
      val gotMh = df.withColumn("sig",
          graft.functions.MinHashSignature.minhash_signature("shingles", k))
        .select("id", "sig").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      docs.zipWithIndex.foreach { case (sh, i) =>
        // one hash64 per shingle, then the SplitMix64-seeded
        // multiply-shift family (odd a_h · x + b_h) per slot
        import graft.functions.MinHashSignature.splitmix64
        val expected = (0 until k).map { h =>
          val a = splitmix64(2L * h) | 1L
          val b = splitmix64(2L * h + 1L)
          sh.map(s => a * xxh(s, 42L) + b).min
        }
        assert(gotMh(i.toLong) === expected, s"minhash doc $i")
      }
      val gotSh = df.withColumn("sig",
          graft.functions.SimHash64.simhash64("shingles"))
        .select("id", "sig").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      docs.zipWithIndex.foreach { case (sh, i) =>
        val votes = Array.fill(64)(0)
        sh.foreach { s =>
          val h = xxh(s, 42L)
          (0 until 64).foreach { b =>
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1 }
        }
        val expected = (0 until 64).foldLeft(0L) { (acc, b) =>
          if (votes(b) > 0) acc | (1L << b) else acc }
        assert(gotSh(i.toLong) === expected, s"simhash doc $i")
      }
    }
  }

  test("property: deterministic split is stable and partitions completely") {
    forAll(Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty))) { ids =>
      val df = ids.distinct.map(id => (id, 0L)).toDF("game_id", "timestamp")
      val s1 = Backtest.withSplit(df).collect()
        .map(r => r.getString(0) -> r.getAs[String]("split")).toMap
      val s2 = Backtest.withSplit(df).collect()
        .map(r => r.getString(0) -> r.getAs[String]("split")).toMap
      assert(s1 === s2) // stable
      assert(s1.values.forall(v => v == "train" || v == "validation"))
    }
  }
}
