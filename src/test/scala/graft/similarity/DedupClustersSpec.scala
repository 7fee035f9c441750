package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupClustersSpec extends SparkSpec {

  import spark.implicits._

  test("connected components: chain, triangle, singleton all resolve to min id") {
    // chain 1-2-3-4 (diameter 3 forces multiple propagation rounds),
    // triangle 10-11-12, singleton 99
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("src", "dst")
    val comp = DedupClusters.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("long path converges within the iteration bound") {
    val n = 30
    val nodes = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = DedupClusters.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet === Set(1L))
  }

  test("property: components agree with a reference union-find on random graphs") {
    val rnd = new scala.util.Random(20260812L)
    for (_ <- 1 to 5) {
      val n = 15 + rnd.nextInt(25)
      val nEdges = rnd.nextInt(n * 2)
      val nodes = (1L to n.toLong).toDF("id")
      val edgeSeq = Seq.fill(nEdges)(
        (1L + rnd.nextInt(n), 1L + rnd.nextInt(n))).filter(e => e._1 != e._2)
      // reference union-find with path compression
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edgeSeq.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1 to n).map(i => i.toLong -> find(i).toLong).toMap
      val edges =
        if (edgeSeq.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else edgeSeq.toDF("src", "dst")
      val got = DedupClusters.connectedComponents(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"n=$n edges=$edgeSeq")
    }
  }

  test("property: prefix-filtered pairs equal full-postings pairs on random corpora") {
    val rnd = new scala.util.Random(991L)
    val vocab = (1 to 30).map(i => s"w$i")
    for (trial <- 1 to 3; t <- Seq(0.5, 0.8)) {
      val base = Seq.fill(20 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
      val docs = (1L to 30L).map { i =>
        // mix of near-copies of base (high jaccard) and fresh random docs
        val words =
          if (i % 3 == 0) base.map(w => if (rnd.nextInt(10) == 0) "X" + w else w)
          else Seq.fill(20 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
        i -> words.mkString(" ")
      }.toDF("doc_id", "text")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = pairs(DedupClusters.jaccardPairsFullPostings(docs, t))
      val prefix = pairs(DedupClusters.jaccardPairs(docs, t))
      assert(prefix === full, s"trial $trial t=$t")
    }
  }

  test("q55 shape: every doc labeled, exactly one representative per cluster") {
    val dir = graft.store.LocalFs.scratchDir("graft-clusters").toString
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),      // dup of 1
      (3L, "a b c d e f g CHANGED"), // near-dup of 1/2
      (4L, "totally different words appear in here now"),
      (5L, "x y z p q r s t u v")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = DedupClusters.q55DedupClusters(spark, dir).collect()
    assert(out.length === 5)
    val comps = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(3L) === 1L)
    assert(comps(4L) === 4L && comps(5L) === 5L)
    // exactly one representative per component, and it is the min id
    val reps = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(reps === Set(1L, 4L, 5L))
  }
}
