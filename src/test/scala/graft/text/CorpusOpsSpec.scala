package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants of the corpus bookkeeping operators (q64/q65/q66) beyond the
  * oracle's cell-exact check — properties that must hold on ANY corpus.
  */
class CorpusOpsSpec extends SparkSpec {

  import spark.implicits._

  private def corpus(dir: String, rows: (Long, String, String)*): Unit =
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("q64: sharded global index equals the naive global row_number") {
    val dir = graft.store.LocalFs.scratchDir("graft-gidx").toString
    // SPARSE, gappy doc_ids across many shards: shard counts are uneven,
    // so wrong offsets (the bug class the two-phase plan can hide) shift
    // every index after the first shard boundary
    val rnd = new scala.util.Random(11L)
    val ids = rnd.shuffle((1L to 50000L).toList).take(700).sorted
    corpus(dir, ids.map(i => (i, s"doc $i text", "s")): _*)
    val got = TextQueries.q64GlobalIndex(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("global_index"))
    // dense 0..N-1 in doc_id order — exactly the naive single-window result
    assert(got.map(_._1).toSeq === ids)
    assert(got.map(_._2).toSeq === ids.indices.map(_.toLong))
  }

  test("q61: limited-split prefix fingerprint equals the unlimited one") {
    val dir = graft.store.LocalFs.scratchDir("graft-q61").toString
    val p = TextQueries.BoilerplatePrefixTokens
    // the edge shapes a limit can get wrong: fewer tokens than the prefix,
    // exactly the prefix, prefix+1 (remainder lands in the limit slot),
    // consecutive/trailing spaces (empty tokens count), and a long tail
    corpus(dir,
      (1L, "one two", "a"),
      (2L, (1 to p).map("t" + _).mkString(" "), "a"),
      (3L, (1 to p + 1).map("t" + _).mkString(" "), "a"),
      (4L, "a  b   c " + ("x " * 40).trim, "b"),
      (5L, ("w " * 500).trim, "b"),
      (6L, "one two", "b")) // cross-source duplicate: must land in output
    val got = TextQueries.q61SourceDupMatrix(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // docs 2/3 share their first 8 tokens within source a (diagonal);
    // docs 1/6 share the full short text across sources (off-diagonal)
    assert(got.toSeq === Seq(("a", "a", 1L), ("a", "b", 1L)))
    // the fingerprint itself must be byte-identical to the unlimited split
    val docs = graft.Tables.documents(spark, dir)
    val unlimited = md5(array_join(slice(split(col("text"), " "), 1, p), " "))
    val limited =
      md5(array_join(slice(split(col("text"), " ", p + 1), 1, p), " "))
    val mismatches = docs.filter(unlimited =!= limited).count()
    assert(mismatches === 0L, "limited split changed a fingerprint")
  }

  test("q65: ranks are 1..k per doc, scores descend, and match tf*ln(N/df)") {
    val dir = graft.store.LocalFs.scratchDir("graft-tfidf").toString
    // 4 docs, 'common' in all (idf = ln(1) = 0), 'rare' only in doc 1
    corpus(dir,
      (1L, "common rare rare alpha", "s"),
      (2L, "common alpha alpha beta", "s"),
      (3L, "common beta gamma gamma", "s"),
      (4L, "common gamma alpha beta", "s"))
    val rows = TextQueries.q65TfIdf(spark, dir).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet === Set(1L, 2L, 3L, 4L))
    for ((_, rs) <- byDoc) {
      assert(rs.map(_.getAs[Int]("rank")).toSeq === (1 to rs.length))
      val scores = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
      assert(scores.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
    // doc 1's top term is 'rare': tf=2, df=1, N=4 -> 2*ln(4) ≈ 2.772589
    val top1 = rows.filter(r => r.getLong(0) == 1L && r.getAs[Int]("rank") == 1).head
    assert(top1.getAs[String]("token") === "rare")
    assert(math.abs(top1.getAs[Double]("score") - 2.0 * math.log(4.0)) < 1e-6)
    // 'common' scores exactly 0 everywhere it ranks (idf = ln(1) = 0)
    rows.filter(_.getAs[String]("token") == "common")
      .foreach(r => assert(r.getAs[Double]("score") === 0.0))
  }

  test("q66: KL >= 0; identical sources agree exactly; closed forms match") {
    val dir = graft.store.LocalFs.scratchDir("graft-kl").toString
    // a and b are IDENTICAL distributions (x 1/2, y 1/4, z 1/4 over 8
    // tokens each); c is disjoint vocabulary (q 5/8, r 3/8). Corpus
    // marginal: x 1/3, y 1/6, z 1/6, q 5/24, r 1/8. Closed forms:
    //   KL(a) = KL(b) = .5 ln(3/2) + .25 ln(3/2) + .25 ln(3/2) = ln 1.5
    //   KL(c) = (5/8) ln 3 + (3/8) ln 3 = ln 3
    corpus(dir,
      (1L, "x x y z", "a"), (2L, "x x y z", "a"),
      (3L, "x x y z", "b"), (4L, "x x y z", "b"),
      (5L, "q q q r", "c"), (6L, "r r q q", "c"))
    val rows = TextQueries.q66SourceKl(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("kl_divergence"))
      .toMap
    assert(rows.keySet === Set("a", "b", "c"))
    // Gibbs: KL(p||q) >= 0 for any p, q (term rounding can dent it by at
    // most vocab * 5e-13)
    rows.values.foreach(kl => assert(kl >= -1e-9))
    // identical distributions must produce the EXACT same double — the
    // decimal term-sum is order-free, so no run-to-run or source-to-source
    // jitter is tolerated
    assert(rows("a") === rows("b"))
    assert(math.abs(rows("a") - math.log(1.5)) < 1e-6)
    assert(math.abs(rows("c") - math.log(3.0)) < 1e-6)
    // tokens partition exactly: n_tokens sums to the corpus token count
    val n = TextQueries.q66SourceKl(spark, dir)
      .agg(sum("n_tokens")).head().getLong(0)
    assert(n === 24L)
  }
}
