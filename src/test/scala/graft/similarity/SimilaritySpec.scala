package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  import spark.implicits._

  test("minhash: identical docs get identical signatures; disjoint docs don't") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear here nothing shared at all"))
      .toDF("doc_id", "text")
    val sig = SimilarityQueries.minhashSignatures(docs)
      .select("doc_id", "minhash").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(3L))
    assert(sig(1L).length === 16)
  }

  test("minhash agreement approximates jaccard for near-duplicates") {
    // ~90% shingle overlap: one word changed at the end
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " CHANGED"
    val docs = Seq((1L, base), (2L, nearDup)).toDF("doc_id", "text")
    val sig = SimilarityQueries.minhashSignatures(docs)
      .select("doc_id", "minhash").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agree = sig(1L).zip(sig(2L)).count { case (a, b) => a == b } / 16.0
    assert(agree > 0.5) // true jaccard ≈ 35/41 ≈ 0.85; 16 hashes is coarse
  }

  test("fused minhash_text equals the compositional shingle+signature path") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "rep rep rep rep rep rep rep rep"),     // duplicate shingles
      (3L, "a b c d e f g h i j k l m n o p q r"),
      (4L, "exactly three tokens"),
      (5L, "trailing space "),                      // empty trailing token
      (6L, "double  space between")                 // empty middle token
    ).toDF("doc_id", "text")
    val fused = SimilarityQueries.minhashSignatures(docs)
      .select("doc_id", "minhash").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val compositional = SimilarityQueries.withShingles(docs)
      .withColumn("minhash", graft.functions.MinHashSignature
        .minhash_signature("shingles", 16))
      .select("doc_id", "minhash").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused.keySet === compositional.keySet) // same >=3-token filter
    for ((id, sig) <- compositional)
      assert(fused(id) === sig, s"doc $id")
  }

  test("simhash of identical docs is identical; hamming small for near-dups") {
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 48).map(i => s"tok$i").mkString(" ") + " changedA changedB"
    val docs = Seq((1L, base), (2L, base), (3L, nearDup),
      (4L, (1 to 50).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val dir = graft.store.LocalFs.scratchDir("graft-docs").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sig = SimilarityQueries.q44Simhash(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sig(1L) === sig(2L))                 // identical docs, identical sig
    assert(hamming(sig(1L), sig(3L)) <= 12)     // 96% token overlap => close
    assert(hamming(sig(1L), sig(4L)) > 12)      // disjoint vocab => far
  }

  test("winnowing: identical docs share fingerprints; near-dups overlap heavily") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"tok$i").mkString(" ") + " x y z"
    val docs = Seq((1L, base), (2L, base), (3L, nearDup),
      (4L, (1 to 60).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val dir = graft.store.LocalFs.scratchDir("graft-winnow").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SimilarityQueries.q48Winnowing(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    assert(rows(1L) === rows(2L))             // deterministic
    assert(rows(1L)._2 <= rows(1L)._1 && rows(1L)._2 >= 1) // fps <= shingles
    // 57/60 shared shingles => fingerprint counts close for near-dups
    assert(math.abs(rows(1L)._2 - rows(3L)._2) <= 4)
    assert(rows(1L)._3 !== rows(4L)._3)       // disjoint vocab differs
  }

  test("ivf ann: neighbors come from the query's own cluster") {
    // two tight clusters around orthogonal centroids; centroids are vec_id<8
    def v(x: Double, y: Double, eps: Double) =
      Array((x + eps).toFloat, (y + eps).toFloat, 0.1f)
    val vecs = (0L to 3L).map(i => (i, v(1.0, 0.0, i * 0.001))) ++  // centroids A
      (4L to 7L).map(i => (i, v(0.0, 1.0, i * 0.001))) ++           // centroids B
      (8L to 10L).map(i => (i, v(1.0, 0.0, i * 0.01))) ++           // queries in A
      (11L to 12L).map(i => (i, v(0.0, 1.0, i * 0.01))) ++
      (13L to 30L).map(i => (i, v(if (i % 2 == 0) 1.0 else 0.0,
        if (i % 2 == 0) 0.0 else 1.0, i * 0.002)))
    val dir = graft.store.LocalFs.scratchDir("graft-ivf").toString
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val res = SimilarityQueries.q49IvfAnn(spark, dir).collect()
    assert(res.nonEmpty)
    // every neighbor of an x-axis query is itself x-axis aligned (same cell)
    val byId = vecs.toMap
    res.foreach { r =>
      val q = byId(r.getAs[Long]("qid"))
      val n = byId(r.getAs[Long]("nid"))
      assert((q(0) > q(1)) === (n(0) > n(1)),
        s"neighbor ${r.getAs[Long]("nid")} crossed cells for query ${r.getAs[Long]("qid")}")
    }
  }

  test("ivf multi-probe: recall vs exact top-k rises with nprobe") {
    // 8 centroid directions around the unit circle; the query sits at 20°,
    // between cell 0 (0°) and cell 1 (45°). Its true nearest neighbors
    // straddle the boundary: 13 (18°, cell 0), 15 (24°, cell 1),
    // 14 (28°, cell 1) — so nprobe=1 can only ever see one of the three.
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val vecs: Seq[(Long, Array[Float])] =
      (0L to 7L).map(i => i -> at(i * 45.0)) ++ // centroids
        Seq(8L -> at(20.0)) ++                  // boundary query
        (9L to 12L).map(i => i -> at((i - 7) * 45.0 + 1.0)) ++ // other queries
        Seq(13L -> at(18.0), 14L -> at(28.0), 15L -> at(24.0),
          16L -> at(60.0), 17L -> at(200.0), 18L -> at(300.0))
    val dir = graft.store.LocalFs.scratchDir("graft-ivf-probe").toString
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // nprobe = #cells is exhaustive search — the exact ground truth
    def top3(nprobe: Int): Set[Long] =
      SimilarityQueries.ivfAnn(spark, dir, nprobe)
        .filter($"qid" === 8L).collect().map(_.getAs[Long]("nid")).toSet
    val exact = top3(8)
    assert(exact === Set(13L, 15L, 14L)) // sanity: the boundary straddlers
    val recall = Seq(1, 2, 3).map(p => p -> (top3(p) & exact).size / 3.0).toMap
    assert(recall(1) < recall(2), s"recall must rise with nprobe: $recall")
    assert(recall(2) <= recall(3) && recall(3) === 1.0, s"$recall")
    // the registered q49 runs at IvfNProbe and must see all three
    assert(top3(SimilarityQueries.IvfNProbe) === exact)
  }

  test("rh-lsh pairs recover near-duplicate embeddings found by brute force") {
    // three exact-duplicate groups + noise directions
    def v(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val vecs: Seq[(Long, Array[Float])] =
      (0L to 2L).map(i => i -> v(1)) ++       // cluster A: ids 0,1,2
        (3L to 4L).map(i => i -> v(2)) ++     // cluster B: ids 3,4
        (5L to 30L).map(i => i -> v(100 + i.toInt))
    val dir = graft.store.LocalFs.scratchDir("graft-rhlsh").toString
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SimilarityQueries.q51RhLshPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // exact duplicates MUST be found (identical signature in every band)
    val mustFind = Set((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L))
    assert(mustFind.subsetOf(got), s"missing ${mustFind -- got}")
    // no cross-cluster false positives survive exact verification
    assert(!got.exists { case (a, b) => a <= 2 && b >= 3 && b <= 4 })
  }

  test("q63: banded simhash pairs = ALL pairs at hamming <= max (pigeonhole)") {
    // 4 disjoint 16-bit bands catch every pair with <= 3 flipped bits (at
    // most 3 bands touched, >= 1 intact), so q63's output must equal the
    // brute-force all-pairs set — no recall loss at the guaranteed bar.
    val rnd = new scala.util.Random(23L)
    def doc(n: Int): String = (1 to 60).map(_ => s"w${rnd.nextInt(40)}").mkString(" ")
    // planted near-dup pairs: identical docs + one-token edits
    val base1 = doc(1); val base2 = doc(2)
    val docs = (
      Seq(1L -> base1, 2L -> base1,                    // exact dup: hamming 0
        3L -> base2, 4L -> (base2 + " extraTok"),      // near dup
        5L -> base1.replaceFirst("w", "v")) ++         // near dup of 1/2
        (6L to 60L).map(i => i -> doc(i.toInt))        // noise
      ).toDF("doc_id", "text")
    val dir = graft.store.LocalFs.scratchDir("graft-shp").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SimilarityQueries.q63SimhashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("hamming")).toMap
    // brute force over the same signatures
    val sigs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("__toks", split(col("text"), " "))
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash64("__toks").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= SimilarityQueries.SimHammingMax
    } yield (ia, ib) -> h).toMap
    assert(got === brute)
    assert(got.contains((1L, 2L)) && got((1L, 2L)) === 0) // exact dup planted
  }

  test("q77: compound-banded pairs === q63 row-for-row (same planted corpus)") {
    // q77 bands on block PAIRS (5 blocks, C(5,2)=10 compound bands) —
    // different candidate arithmetic, identical guaranteed output: every
    // pair at Hamming <= max. Pin the two paths equal on a corpus with
    // exact dups, near dups, and noise.
    val rnd = new scala.util.Random(29L)
    def doc(n: Int): String = (1 to 60).map(_ => s"w${rnd.nextInt(40)}").mkString(" ")
    val base1 = doc(1); val base2 = doc(2)
    val docs = (
      Seq(1L -> base1, 2L -> base1,
        3L -> base2, 4L -> (base2 + " extraTok"),
        5L -> base1.replaceFirst("w", "v")) ++
        (6L to 60L).map(i => i -> doc(i.toInt))
      ).toDF("doc_id", "text")
    val dir = graft.store.LocalFs.scratchDir("graft-shpb").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def rows(q: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame) =
      q(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming"))).toSeq
    val blocked = rows(SimilarityQueries.q77SimhashPairsBlocked)
    val banded = rows(SimilarityQueries.q63SimhashPairs)
    assert(blocked === banded)
    assert(blocked.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
  }

  test("q77 pigeonhole: every C(64,3) bit triple leaves >= 1 compound band intact") {
    // The completeness argument, verified exhaustively rather than by
    // prose: 5 blocks cover the 64 bits exactly once; for EVERY way 3
    // flipped bits can fall, some block pair (a compound band) is
    // untouched. 41,664 triples — cheap, total, no sampling.
    val widths = SimilarityQueries.SimBlockWidths
    val offsets = SimilarityQueries.SimBlockOffsets
    assert(widths.sum === 64)
    def blockOf(bit: Int): Int =
      offsets.lastIndexWhere(_ <= bit) // blocks are contiguous, ascending
    // partition sanity: each bit belongs to exactly one block's range
    (0 until 64).foreach { bit =>
      val blk = blockOf(bit)
      assert(bit >= offsets(blk) && bit < offsets(blk) + widths(blk))
    }
    val pairs = SimilarityQueries.SimBlockPairs
    assert(pairs.size === 10)
    var checked = 0
    for {
      b1 <- 0 until 64; b2 <- (b1 + 1) until 64; b3 <- (b2 + 1) until 64
    } {
      val hit = Set(blockOf(b1), blockOf(b2), blockOf(b3))
      assert(pairs.exists { case (i, j) => !hit(i) && !hit(j) },
        s"no intact compound band for flipped bits ($b1,$b2,$b3)")
      checked += 1
    }
    assert(checked === 41664) // C(64,3)
  }

  test("q69 kmeans: tight planted clusters separate; duplicates co-assign") {
    val rnd = new scala.util.Random(31L)
    def around(center: Array[Float], eps: Float): Array[Float] =
      center.map(c => c + eps * rnd.nextGaussian().toFloat)
    // 3 well-separated centers, members within eps << separation; the
    // first kmK(42)=8 vectors seed the centroids so each center has a seed
    val c1 = Array.fill(16)(rnd.nextGaussian().toFloat * 5)
    val c2 = Array.fill(16)(rnd.nextGaussian().toFloat * 5)
    val c3 = Array.fill(16)(rnd.nextGaussian().toFloat * 5)
    val vecs: Seq[(Long, Array[Float])] =
      Seq(0L -> around(c1, 0.01f), 1L -> around(c2, 0.01f),
        2L -> around(c3, 0.01f)) ++
        (3L to 7L).map(i => i -> around(c1, 0.01f)) ++   // rest of the seeds
        (8L to 20L).map(i => i -> around(c1, 0.01f)) ++
        (21L to 30L).map(i => i -> around(c2, 0.01f)) ++
        (31L to 40L).map(i => i -> around(c3, 0.01f)) ++
        Seq(41L -> c2.clone())                            // exact dup of 21's center
    val dir = graft.store.LocalFs.scratchDir("graft-km").toString
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SimilarityQueries.q69Kmeans(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Int]("cluster"), r.getAs[Double]("dist2")))
      .toMap
    assert(got.size === vecs.size)                  // every vector assigned once
    assert(got.values.forall(_._2 >= 0.0))
    assert(got.values.map(_._1).toSet.size <=
      SimilarityQueries.kmK(vecs.size.toLong))
    // seeds 0,3..7 all sit in cloud 1, so that cloud may split among its
    // own centroids — the INVARIANT is cross-cloud purity: clouds 2 and 3
    // each have exactly one seed, collapse to one cluster each, and no
    // cluster is shared across clouds
    def cluster(ids: Seq[Long]) = ids.map(got(_)._1).toSet
    val (k1, k2, k3) = (cluster(8L to 20L), cluster(21L to 30L), cluster(31L to 40L))
    assert(k2.size === 1 && k3.size === 1)
    assert((k1 & k2).isEmpty && (k1 & k3).isEmpty && (k2 & k3).isEmpty)
    assert(got(41L)._1 === k2.head)
  }

  test("q74 semantic dedup: survivors are pairwise below the bar; twins dedup") {
    val rnd = new scala.util.Random(47L)
    def around(center: Array[Float], eps: Float): Array[Float] =
      center.map(c => c + eps * rnd.nextGaussian().toFloat)
    val c1 = Array.fill(16)(rnd.nextGaussian().toFloat * 5)
    val c2 = Array.fill(16)(rnd.nextGaussian().toFloat * 5)
    // two clouds; cloud members are near-identical directions (cosine ≈ 1
    // within a cloud, unrelated across) plus an exact twin of vector 0
    val vecs: Seq[(Long, Array[Float])] =
      (0L to 7L).map(i => i -> around(if (i % 2 == 0) c1 else c2, 0.01f)) ++
        (8L to 14L).map(i => i -> around(c1, 0.01f)) ++
        (15L to 20L).map(i => i -> around(c2, 0.01f)) :+ (21L -> c1.clone())
    val dir = graft.store.LocalFs.scratchDir("graft-semdedup").toString
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = SimilarityQueries.q74SemanticDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Int]("cluster"), r.getAs[Boolean]("kept")))
      .toMap
    assert(rows.size === vecs.size)
    val vmap = vecs.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val theta = SimilarityQueries.SemDedupTheta
    // near-identical clouds must actually dedup
    assert(rows.count(!_._2._2) >= 5, s"expected real drops, got $rows")
    for {
      (i, (ci, ki)) <- rows; (j, (cj, kj)) <- rows
      if i < j && ci == cj
    } {
      // survivors within a cluster are pairwise below the bar...
      if (ki && kj) assert(cos(vmap(i), vmap(j)) < theta + 1e-6,
        s"kept pair ($i,$j) above the bar")
    }
    // ...and every dropped vector has a more-senior neighbor above it
    for ((j, (cj, kept)) <- rows if !kept)
      assert(rows.exists { case (i, (ci, _)) =>
        i < j && ci == cj && cos(vmap(i), vmap(j)) >= theta - 1e-6
      }, s"dropped $j has no senior near-dup")
    // the exact twin (21 duplicates 0's direction) cannot both survive
    assert(!(rows(21L)._2 && rows(0L)._2) || rows(21L)._1 != rows(0L)._1)
  }

  test("cosine top-k: nearest neighbor of a vector is its duplicate") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // duplicate of 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.7f, 0.7f, 0.0f)))
      .toDF("vec_id", "embedding")
    val dir = graft.store.LocalFs.scratchDir("graft-emb").toString
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val topk = SimilarityQueries.q40CosineTopK(spark, dir)
      .filter($"qid" === 0 && $"rank" === 1).head()
    assert(topk.getAs[Long]("nid") === 1L)
    assert(math.abs(topk.getAs[Double]("cosine") - 1.0) < 1e-9)
  }
}
