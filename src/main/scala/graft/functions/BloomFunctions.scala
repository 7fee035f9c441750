package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}

/** SQL surface over Catalyst's native bloom-filter pair — the same
  * expressions Spark's runtime row-level filtering injects
  * (`spark.sql.optimizer.runtime.bloomFilter.*`), exposed as callable
  * functions so a query can build a fixed-size set summary of a SMALL
  * side distributed (partial sketches merged map-side, one binary out)
  * and prefilter a LARGE side scan-side before any exact join:
  *
  * {{{
  *   bloom_agg(xxhash64(key), estimatedItems, numBits) -> binary
  *   bloom_contains(filterBinary, xxhash64(key))       -> boolean
  * }}}
  *
  * Both operate on XXH64 hashes of the key (the aggregate inserts longs,
  * the probe tests longs) — pass `xxhash64(col)` on both sides, exactly
  * as the optimizer's injected filters do. `bloom_contains` requires the
  * filter argument to be FOLDABLE (a literal): build the filter first,
  * collect the one fixed-size binary (bounded by numBits/8, independent
  * of data volume), and embed it with `lit(bytes)`.
  *
  * This is intentionally NOT a reimplementation: the sketch layout,
  * hashing, and eval come from `org.apache.spark.util.sketch.BloomFilter`
  * via the shipped expressions; graft only names them (GraftExtensions).
  */
object BloomFunctions {

  /** Aggregate a column of XXH64 longs into one serialized bloom filter. */
  def bloomAgg(hashed: Column, estItems: Long, numBits: Long): Column =
    call_function("bloom_agg", hashed, lit(estItems), lit(numBits))

  /** Probe a (foldable) serialized filter with a column of XXH64 longs. */
  def bloomContains(filter: Column, hashed: Column): Column =
    call_function("bloom_contains", filter, hashed)
}
