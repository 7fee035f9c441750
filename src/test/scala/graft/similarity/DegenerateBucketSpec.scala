package graft.similarity

import graft.{SparkSpec, Slow}
import org.apache.spark.sql.functions._

/** Proves `bandedPairs` is lossless at ANY bucket occupancy — the round-7
  * verdict's one finding was a silent 10,000-member bucket cap that dropped
  * oversized LSH buckets whole, voiding q63's "exactly all pairs at
  * Hamming <= 3" pigeonhole guarantee on degenerate corpora (boilerplate
  * band values, empty docs). The banded path distributes the inherent
  * c(k,2) work over semPairs' triangle grid instead of dropping it; these
  * specs pin that down:
  *
  *   - exact pair-SET equality against a brute-force oracle with a chunk
  *     size small enough that the multi-chunk grid is the one doing the
  *     work;
  *   - a bucket LARGER than the old 10k cap emitting its complete
  *     c(k,2) = k(k-1)/2 pair count — the exact case r7 silently lost;
  *   - emit-once cross-band dedup and the ordering invariant id_a < id_b.
  *
  * The grid's task spread is pinned by HotClusterSpec.
  */
class DegenerateBucketSpec extends SparkSpec {

  import spark.implicits._

  /** Members as (id, one key per band) — the LSH shape; band b's key is
    * read from the payload array, as q43/q93 read theirs. */
  private def pairs(members: Seq[(Long, Seq[Long])], chunkSize: Int = 1024) =
    SimilarityQueries
      .bandedPairs(members.toDF("vec_id", "v"), members.head._2.size,
        keyBits = 16, chunkSize = chunkSize)((v, b) => v.getItem(b))
      .select("id_a", "id_b").as[(Long, Long)]

  test("multi-chunk expansion emits exactly the brute-force pair set") {
    // 300 members in one degenerate bucket; chunkSize=16 forces ~19 chunks
    // so nearly every pair crosses chunks — the path a small fixture with
    // the default chunkSize would never execute.
    val k = 300
    val got = pairs((1L to k.toLong).map(id => (id, Seq(42L))), chunkSize = 16)
      .collect().toSet
    val expected = (for {
      a <- 1L to k.toLong; b <- (a + 1) to k.toLong
    } yield (a, b)).toSet
    assert(got === expected) // 44,850 pairs, none dropped, none invented
  }

  test("bucket over the old 10k cap yields the complete c(k,2) count",
      Slow) {
    // 10,050 members sharing one band value — the r7 code dropped this
    // bucket entirely (filter size(ids) <= 10000). The default
    // chunkSize=1024 splits it into 10 chunks; the grid must still emit
    // every pair. Tagged Slow: materializes ~50.5 M pairs — excluded from
    // the default run; see graft.Slow's scaladoc for the on-demand
    // invocation.
    val k = 10050L
    val df = spark.range(1, k + 1)
      .select(col("id").as("vec_id"), array(lit(7L)).as("v"))
    val n = SimilarityQueries
      .bandedPairs(df, 1, keyBits = 16)((v, b) => v.getItem(b)).count()
    assert(n === k * (k - 1) / 2)
  }

  test("pairs meeting in several bands are emitted once, ordered id_a < id_b") {
    // ids 1..6 share band 0's key; ids 4..9 share band 1's → the overlap
    // {4,5,6} pairs meet in both bands. Every other (id, band) key is the
    // id's own. chunkSize=2 sends both buckets through the grid.
    val members = (1L to 9L).map { id =>
      (id, Seq(if (id <= 6) 11L else 100 + id, if (id >= 4) 22L else 100 + id))
    }
    val got = pairs(members, chunkSize = 2).collect()
    assert(got.length === got.toSet.size, "duplicate pair emitted")
    assert(got.forall { case (a, b) => a < b }, "ordering invariant broken")
    val expected =
      (for { a <- 1L to 6L; b <- (a + 1) to 6L } yield (a, b)).toSet ++
      (for { a <- 4L to 9L; b <- (a + 1) to 9L } yield (a, b)).toSet
    assert(got.toSet === expected)
  }

  test("single-member and empty buckets emit nothing") {
    // every (band, key) bucket holds one member
    assert(pairs(Seq((1L, Seq(1L, 4L)), (2L, Seq(2L, 5L)), (3L, Seq(3L, 6L))))
      .count() === 0)
    // no members at all
    val empty = Seq.empty[(Long, Seq[Long])].toDF("vec_id", "v")
    assert(SimilarityQueries
      .bandedPairs(empty, 2, keyBits = 16)((v, b) => v.getItem(b)).count() === 0)
  }
}
