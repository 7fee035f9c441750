package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Session extension registering graft's native functions at session build
  * time (`spark.sql.extensions=graft.functions.GraftExtensions`;
  * `GraftSession.builder` installs it), so SQL and `expr(...)` users get
  * them with no registration call:
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   spark.sql("SELECT minhash_signature(shingles, 16) FROM docs")
  * }}}
  *
  * This is the only place a native function gets its SQL name; no query
  * path writes a session's function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, cls, build) <- GraftExtensions.Functions)
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    // optimizer: consolidate repeated same-column get_json_object calls
    // into one json_tuple parse (SURVEY §4's optional rule)
    ext.injectOptimizerRule(_ => graft.plans.ConsolidateJsonGets)
    // optimizer: Catalyst's size estimate for Generate keeps the child's
    // sizeInBytes, so exploded relations under-count by the expansion
    // factor and get statically broadcast — the bug class behind the q51
    // 30× OOM. The guard pins NO_BROADCAST_HASH on Generate-derived join
    // sides (explicit hints and Limits opt out).
    ext.injectOptimizerRule(_ => graft.plans.GenerateStatsGuard)
  }
}

object GraftExtensions {

  type Builder = Seq[Expression] => Expression

  /** A literal integer argument (k, n, w, b, bits). */
  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** One table row: a builder defined on the accepted argument lists;
    * any other call fails with `usage`.
    */
  private def fn(name: String, cls: Class[_], usage: String)(
      build: PartialFunction[Seq[Expression], Expression]): (String, Class[_], Builder) =
    (name, cls, args => build.applyOrElse(args,
      (_: Seq[Expression]) => throw new IllegalArgumentException(usage)))

  /** Every native function: SQL name, the class DESCRIBE FUNCTION names,
    * and its builder.
    */
  val Functions: Seq[(String, Class[_], Builder)] = Seq(
    fn("minhash_signature", classOf[MinHashSignature], "minhash_signature(arr [, numHashes])") {
      case Seq(a) => MinHashSignature(a, 16)
      case Seq(a, k) => MinHashSignature(a, int(k))
    },
    fn("minhash_text", classOf[MinHashFromText], "minhash_text(text [, numHashes])") {
      case Seq(t) => MinHashFromText(t, 16)
      case Seq(t, k) => MinHashFromText(t, int(k))
    },
    fn("text_shingles", classOf[TextShingles], "text_shingles(text, n)") {
      case Seq(t, n) => TextShingles(t, int(n))
    },
    fn("text_shingle_hashes", classOf[TextShingleHashes], "text_shingle_hashes(text, n)") {
      case Seq(t, n) => TextShingleHashes(t, int(n))
    },
    fn("text_shingle_hash64s", classOf[TextShingleHashes], "text_shingle_hash64s(text, n)") {
      case Seq(t, n) => TextShingleHashes(t, int(n), SpanHash.Hash64)
    },
    fn("text_shingle_md5p32s", classOf[TextShingleHashes], "text_shingle_md5p32s(text, n)") {
      case Seq(t, n) => TextShingleHashes(t, int(n), SpanHash.Md5Prefix32)
    },
    // SQL form: text_stats(text, 'the', 'a', ...) — stopwords as string
    // literals; may be empty
    fn("text_stats", classOf[TextStats], "text_stats(text, stopwords*)") {
      case t +: rest => TextStats(t, rest.map(_.eval().toString))
    },
    fn("md5_prefix32", classOf[Md5Prefix32], "md5_prefix32(s)") {
      case Seq(s) => Md5Prefix32(s)
    },
    fn("dsir_bucket_counts", classOf[DsirBucketCounts], "dsir_bucket_counts(text, b)") {
      case Seq(t, b) => DsirBucketCounts(t, int(b))
    },
    fn("bigram_hash_counts", classOf[BigramHashCounts], "bigram_hash_counts(text)") {
      case Seq(t) => BigramHashCounts(t)
    },
    fn("sliding_min", classOf[SlidingMin], "sliding_min(arr, w)") {
      case Seq(a, w) => SlidingMin(a, int(w))
    },
    fn("simhash64", classOf[SimHash64], "simhash64(arr)") {
      case Seq(a) => SimHash64(a)
    },
    fn("rh_signature", classOf[RandomHyperplaneSignature], "rh_signature(arr [, k])") {
      case Seq(a) => RandomHyperplaneSignature(a, 16)
      case Seq(a, k) => RandomHyperplaneSignature(a, int(k))
    },
    fn("rh_band_keys", classOf[RhBandKeys], "rh_band_keys(arr, bandBits, numBands)") {
      case Seq(a, bits, bands) => RhBandKeys(a, int(bits), int(bands))
    },
    fn("cosine_similarity", classOf[CosineSimilarity], "cosine_similarity(a, b)") {
      case Seq(a, b) => CosineSimilarity(a, b)
    },
    fn("l2_sq", classOf[L2Distance], "l2_sq(a, b)") {
      case Seq(a, b) => L2Distance(a, b)
    },
    fn("int8_quantize", classOf[Int8Quantize], "int8_quantize(v)") {
      case Seq(v) => Int8Quantize(v)
    },
    // Catalyst's own bloom pair under callable names (BloomFunctions)
    fn("bloom_agg", classOf[BloomFilterAggregate],
        "bloom_agg(xxhash64(key) [, estItems [, numBits]])") {
      case Seq(c) => new BloomFilterAggregate(c)
      case Seq(c, items) => new BloomFilterAggregate(c, items)
      case Seq(c, items, bits) => new BloomFilterAggregate(c, items, bits)
    },
    fn("bloom_contains", classOf[BloomFilterMightContain], "bloom_contains(filter, xxhash64(key))") {
      case Seq(filter, value) => BloomFilterMightContain(filter, value)
    },
    fn("hash64", classOf[Hash64], "hash64(s)") {
      case Seq(s) => Hash64(s)
    })
}
