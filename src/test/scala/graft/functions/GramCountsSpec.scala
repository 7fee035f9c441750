package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The fused per-document gram counters equal the relational shapes they
  * replaced (explode + groupBy), element-for-element:
  *
  *   dsir_bucket_counts(text, b)[k] ≡ count of grams (unigrams ∪ bigrams)
  *     with pmod(md5_prefix32(gram), b) = k — q79's (doc, bucket, cnt)
  *     grain;
  *   bigram_hash_counts(text) ≡ the distinct (hash64(prev),
  *     hash64("prev cur"), cnt) rows of the doc — q80's (doc, hp, hb,
  *     cnt) grain.
  *
  * Both equalities are what keeps the md5/string-keyed DuckDB oracles
  * valid for the fused engine plans.
  */
class GramCountsSpec extends SparkSpec {

  import spark.implicits._

  private val B = 64

  private def texts(n: Int): Seq[String] = AdversarialText.texts(n, 7171L)

  test("dsir_bucket_counts equals the exploded md5-bucket groupBy") {
    val df = texts(80).zipWithIndex.map(_.swap).toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val bi = TextShingles.text_shingles("text", 2)
    val relational = df
      .select(col("doc_id"), explode(concat(toks, bi)).as("gram"))
      .groupBy(col("doc_id"),
        pmod(Md5Prefix32.md5_prefix32(col("gram")), lit(B.toLong)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fused = df.select(col("doc_id"),
      DsirBucketCounts.dsir_bucket_counts("text", B).as("bc"))
      .collect()
    for (r <- fused; (cnt, k) <- r.getSeq[Long](1).zipWithIndex) {
      val want = relational.getOrElse((r.getInt(0), k.toLong), 0L)
      assert(cnt === want, s"doc=${r.getInt(0)} bucket=$k")
    }
    // totals conserve: every gram lands in exactly one bucket
    val total = fused.map(_.getSeq[Long](1).sum).sum
    assert(total === relational.values.sum)
  }

  test("bigram_hash_counts equals the exploded hash64 groupBy") {
    val df = texts(80).zipWithIndex.map(_.swap).toDF("doc_id", "text")
    val relational = df
      .select(col("doc_id"),
        explode(TextShingles.text_shingles("text", 2)).as("bg"))
      .select(col("doc_id"),
        Hash64.hash64(substring_index(col("bg"), " ", 1)).as("hp"),
        Hash64.hash64(col("bg")).as("hb"))
      .groupBy("doc_id", "hp", "hb").agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val fused = df.select(col("doc_id"),
      BigramHashCounts.bigram_hash_counts("text").as("bgc"))
      .select(col("doc_id"), explode(col("bgc")).as("e"))
      .select(col("doc_id"), col("e.hp"), col("e.hb"), col("e.cnt"))
      .collect()
    assert(fused.length === relational.size, "distinct transition count")
    for (r <- fused) {
      val key = (r.getInt(0), r.getLong(1), r.getLong(2))
      assert(relational.get(key).contains(r.getLong(3)), s"row $key")
    }
  }

  test("edge docs: empty text, one token, null") {
    val df = Seq((0, Some("")), (1, Some("solo")), (2, None),
      (3, Some("a a a"))).toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
      DsirBucketCounts.dsir_bucket_counts("text", B).as("bc"),
      BigramHashCounts.bigram_hash_counts("text").as("bgc"))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1),
          if (r.isNullAt(2)) null else r.getSeq[org.apache.spark.sql.Row](2)))
      .toMap
    // '' splits to one empty token: ONE unigram, no bigrams
    assert(rows(0)._1.sum === 1L)
    assert(rows(0)._2.isEmpty)
    // one token: one unigram, no bigrams
    assert(rows(1)._1.sum === 1L)
    assert(rows(1)._2.isEmpty)
    // null in, null out
    assert(rows(2)._1 == null && rows(2)._2 == null)
    // "a a a": 3 unigrams + 2 bigrams; one distinct transition with cnt 2
    assert(rows(3)._1.sum === 5L)
    assert(rows(3)._2.length === 1)
    assert(rows(3)._2.head.getLong(2) === 2L)
  }

  test("SQL registration works (session extension path)") {
    val r = spark.sql(
      s"SELECT dsir_bucket_counts('x y', 8) AS a, " +
        "bigram_hash_counts('x y') AS b").head
    assert(r.getSeq[Long](0).sum === 3L) // 2 unigrams + 1 bigram
    assert(r.getSeq[org.apache.spark.sql.Row](1).length === 1)
    // every name GraftExtensions registers resolves on a new session
    val fresh = spark.newSession()
    for ((name, cls, _) <- GraftExtensions.Functions)
      assert(fresh.catalog.getFunction(name).className === cls.getName, name)
    assert(GraftExtensions.Functions.map(_._1).distinct.size === 20)
  }
}
