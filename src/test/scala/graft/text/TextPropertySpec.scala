package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-randomized checks for the newest text operators (the a738a05
  * discipline: generators + Scala brute force, not just planted fixtures).
  * Small vocabularies force heavy window/bigram collisions — the regime
  * where merge/tie-break bugs live. Seeded Gens, deterministic across runs
  * (the scalatest-scalacheck bridge isn't on the offline classpath).
  */
class TextPropertySpec extends SparkSpec {

  import spark.implicits._

  private def forAll[A](gen: Gen[A], n: Int)(f: A => Unit): Unit = {
    var seed = Seed(1207L)
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

  // corpus: 4-8 docs over a tiny vocabulary (collision-heavy), two sources
  private case class Doc(id: Long, toks: Vector[String], src: String)
  private val corpusGen: Gen[List[Doc]] = for {
    nDocs <- Gen.choose(4, 8)
    vocab <- Gen.choose(3, 6)
    docs <- Gen.sequence[List[Doc], Doc]((1 to nDocs).map { i =>
      for {
        len <- Gen.choose(1, 28)
        toks <- Gen.listOfN(len, Gen.choose(1, vocab).map(v => s"t$v"))
        src <- Gen.oneOf("a", "b")
      } yield Doc(i.toLong, toks.toVector, src)
    })
  } yield docs

  private def write(docs: List[Doc]): String = {
    val dir = graft.store.LocalFs.scratchDir("graft-prop").toString
    docs.map(d => (d.id, d.toks.mkString(" "), d.src))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---- q78 brute force: window frequency + gap-merge spans ----
  private def bruteSpans(docs: List[Doc]): Seq[(Long, Long, Long, Long)] = {
    val w = TextQueries.DupSpanW
    val wins = docs.flatMap { d =>
      if (d.toks.length >= w)
        d.toks.sliding(w).zipWithIndex
          .map { case (win, i) => (d.id, i + 1L, win.mkString(" ")) }.toSeq
      else Seq.empty
    }
    val freq = wins.groupBy(_._3).view.mapValues(_.size).toMap
    val dup = wins.filter(x => freq(x._3) >= 2)
    dup.groupBy(_._1).toSeq.flatMap { case (id, ws) =>
      val ps = ws.map(_._2).sorted
      val groups = ps.foldLeft(Vector.empty[Vector[Long]]) { (acc, p) =>
        if (acc.nonEmpty && p - acc.last.last <= w) acc.init :+ (acc.last :+ p)
        else acc :+ Vector(p)
      }
      groups.map(g => (id, g.head, g.last + w, g.size.toLong))
    }.sortBy(t => (t._1, t._2))
  }

  test("property: q78 spans equal brute-force window-frequency merge") {
    forAll(corpusGen, 5) { docs =>
      val dir = write(docs)
      val got = TextQueries.q78DupSpans(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got === bruteSpans(docs),
        s"corpus: ${docs.map(d => d.id -> d.toks.mkString(" "))}")
    }
  }

  // ---- q80 brute force: Laplace bigram LM scores ----
  private def bruteLm(docs: List[Doc]): Map[Long, (Double, Double)] = {
    val tgt = docs.map(_.src).min
    val tdocs = docs.filter(_.src == tgt)
    val v = tdocs.flatMap(_.toks).distinct.size
    val ttrans = tdocs.filter(_.toks.length >= 2)
      .flatMap(d => d.toks.sliding(2).map(p => (p(0), p(1))))
    val cb = ttrans.groupBy(identity).view.mapValues(_.size).toMap
    val cu = ttrans.groupBy(_._1).view.mapValues(_.size).toMap
    docs.filter(_.toks.length >= 2).map { d =>
      val trans = d.toks.sliding(2).map(p => (p(0), p(1))).toSeq
      val t = trans.size
      val sum = trans.groupBy(identity).map { case (bg, occ) =>
        occ.size * math.log((cb.getOrElse(bg, 0) + 1).toDouble /
          (cu.getOrElse(bg._1, 0) + v).toDouble)
      }.sum
      val noov = trans.count(bg => !cb.contains(bg))
      d.id -> (-sum / t, noov.toDouble / t)
    }.toMap
  }

  test("property: q80 scores match the brute-force bigram LM") {
    forAll(corpusGen, 5) { docs =>
      val dir = write(docs)
      val got = TextQueries.q80LmPerplexity(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
      val want = bruteLm(docs)
      assert(got.keySet === want.keySet)
      got.foreach { case (id, (nll, oov)) =>
        assert(math.abs(nll - want(id)._1) < 1e-6,
          s"doc $id avg_nll: $nll vs ${want(id)._1}")
        assert(math.abs(oov - want(id)._2) < 1e-6,
          s"doc $id oov_rate: $oov vs ${want(id)._2}")
      }
    }
  }

  // ---- q81 brute force: robust winnowing + overlap ----
  private def md5h32(s: String): Long =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))

  private def bruteOverlap(docs: List[Doc]): Map[(Long, Long), Long] = {
    val k = TextQueries.WinnowK
    val w = TextQueries.WinnowW
    val fps = docs.filter(_.toks.length >= k + w - 1).map { d =>
      val hs = d.toks.sliding(k).map(_.mkString(" ")).map(md5h32).toVector
      d.id -> (0 to hs.length - w).map { j =>
        val mh = hs.slice(j, j + w).min
        hs((j until j + w).filter(hs(_) == mh).max)
      }.toSet
    }.toMap
    val docFreq = fps.values.flatten.groupBy(identity).view.mapValues(_.size)
    val kept = fps.view.mapValues(
      _.filter(h => docFreq(h) <= TextQueries.WinnowDocCap)).toMap
    (for {
      (a, fa) <- kept.toSeq; (b, fb) <- kept.toSeq if a < b
      shared = (fa intersect fb).size.toLong if shared >= TextQueries.WinnowMinShared
    } yield (a, b) -> shared).toMap
  }

  test("property: q81 overlap counts equal brute-force robust winnowing") {
    forAll(corpusGen, 5) { docs =>
      val dir = write(docs)
      val got = TextQueries.q81WinnowOverlap(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === bruteOverlap(docs),
        s"corpus: ${docs.map(d => d.id -> d.toks.mkString(" "))}")
    }
  }
}
