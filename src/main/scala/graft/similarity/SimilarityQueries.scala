package graft.similarity

import graft.{Q, Tables}
import graft.functions.DecimalKernels.{dec, dec_sum}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search + near-duplicate detection over `embeddings` and
  * `documents` — the vector-index side of the reference
  * (`src/services/vector_indexer/indexer.py`: embeddings over event chunks,
  * rebuildable batch index) re-expressed as Spark-native batch operators,
  * plus the LSH family a 100 TB dedup pipeline needs.
  *
  * Scale design:
  *   - brute-force cosine is the CORRECTNESS baseline: broadcast the (small)
  *     query set, stream the candidate side, per-partition top-k via window;
  *   - the scale path is LSH bucketing (MinHash bands for Jaccard, bit-
  *     sampled SimHash for cosine): candidates meet only inside buckets, so
  *     the quadratic blowup is confined to bucket-local joins;
  *   - similarity scores go through the native one-pass expressions in
  *     graft.functions (cosine_similarity / minhash_signature / simhash64) —
  *     sequential, deterministic, no UDF serialization, no explode.
  */
object SimilarityQueries {

  /** Rounded cosine via the native one-pass expression
    * (graft.functions.CosineSimilarity); the composed zip_with/aggregate
    * form allocates a zipped array and walks the vectors five times per
    * pair in interpreted HOF eval. Rounded 6dp BEFORE any ranking so Spark
    * and DuckDB rank identical values identically.
    */
  private def cos6(aCol: String, bCol: String): org.apache.spark.sql.Column =
    round(graft.functions.CosineSimilarity.cosine_similarity(aCol, bCol), 6)

  // ---------------------------------------------------------------------------
  // q40 — brute-force cosine top-k ANN baseline: 3 nearest neighbors for each
  // query vector (vec_id < 5) across the whole table. Query side broadcast;
  // ranking via per-query window on the rounded score (rounded BEFORE ranking
  // so Spark and DuckDB rank identical values identically).
  val q40CosineTopK: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cand = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    val scored = cand.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cosine",
        cos6("qvec", "nvec"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("qid", "rank", "nid", "cosine")
      .orderBy("qid", "rank")
  }
  val q40Sql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid, e.vec_id AS nid,
      |    round(
      |      (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
      |       FROM (SELECT unnest(q.qvec) AS x, unnest(e.embedding) AS y))
      |      / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(q.qvec) AS x)))
      |       * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS y)))),
      |      6) AS cosine
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, nid, cosine,
      |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
      |  FROM scored)
      |SELECT qid, rank, nid, cosine FROM ranked WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------------
  // q41 — embedding-cosine near-duplicate pairs: all pairs above a cosine
  // threshold among a blocked subset (vec_id < 100 at any sf — keeps the
  // oracle quadratic bounded; the full-scale path is q43's LSH bucketing).
  val q41CosinePairs: Q = (s, d) => {
    val a = Tables.embeddings(s, d).filter(col("vec_id") < 100)
      .select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
    val b = Tables.embeddings(s, d).filter(col("vec_id") < 100)
      .select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
    // broadcast: the b side is BOUNDED BY PREDICATE (< 100 rows at any
    // corpus size), but Catalyst's size estimate scales with the table's
    // file size, so past ~10× it flips this non-equi join to
    // CartesianProduct — 40× the task CPU for identical output
    // (BENCH_r16_planflip_probe.json: 19.9 vs 0.47 cpu-s at 100×). The
    // hint declares the bound the stats can't see; it is scale-safe
    // BECAUSE the bound is a predicate, not an observed size (contrast
    // q04/q09, whose build sides grow with data and keep AQE's choice).
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cosine",
        cos6("vec_a", "vec_b"))
      .filter(col("cosine") >= 0.35)
      .select("id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }
  val q41Sql: String =
    """WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(
      |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
      |     FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y))
      |    / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x)))
      |     * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(b.embedding) AS y)))),
      |    6) AS cosine
      |FROM sub a JOIN sub b ON a.vec_id < b.vec_id
      |WHERE round(
      |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
      |     FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y))
      |    / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x)))
      |     * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(b.embedding) AS y)))),
      |    6) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------------------
  // q42 — MinHash signatures (the scale path for Jaccard near-dup): 3-token
  // shingles → hash64 once per shingle → 16 multiply-shift slots → min
  // per slot. Pure expressions, deterministic; LSH banding joins on
  // band-hash so only bucket collisions are compared. Oracle: generated
  // PURE DuckDB SQL — hashStages emits the identical hash64 from the same
  // constants (see q42Sql below), no UDF registration required.
  private val NumHashes = 16
  private val BandSize = 4

  /** Adds `outCol`: the distinct 3-token shingle set of `textCol` — the
    * native codegen'd expression (functions.TextShingles; equivalence to
    * the compositional arrays_zip/concat_ws idiom this replaced is
    * property-tested in TextShinglesSpec, and every consumer is
    * oracle-gated against compositional SQL). The HOF form ran
    * interpreted and was q36/q55/q47's dominant cost under the r13
    * full-materialization protocol.
    */
  def addShingles(df: DataFrame, textCol: String, outCol: String,
      dropText: Boolean = false): DataFrame = {
    val out = df.withColumn(outCol,
      array_distinct(graft.functions.TextShingles
        .text_shingles(textCol, 3)))
    if (dropText) out.drop(textCol) else out
  }

  /** Adds a `shingles` column over `text`; keeps docs with >= 3 tokens
    * (>= 3 tokens ⇔ at least one shingle). The filter tests the TOKEN
    * count, not `size(shingles) >= 1`: predicate pushdown substitutes a
    * projected column's defining expression into the filter, and the
    * shingle pipeline is an interpreted HOF chain — filtering on it would
    * evaluate that whole chain twice per row (observed in q55's plan).
    */
  def withShingles(docs: DataFrame): DataFrame =
    addShingles(docs, "text", "shingles")
      .filter(size(split(col("text"), " ")) >= 3)

  /** LSH banding → emit-once candidate pairs, LOSSLESS at any bucket size.
    * The one banded-pair primitive: q43/q63/q77 (MinHash, SimHash) and
    * q51/q76/q93 (random-hyperplane) all run through it.
    *
    * Input: `rows` (vec_id, v) — one row per member, `v` the payload that
    * verification needs AND that `key(v, b)` reads band b's key from
    * (a packed signature long, or an array of band keys). Each key must
    * be a non-negative value below 2^keyBits; the member joins bucket
    * `cid = b·2^keyBits + key(v, b)` in every band b — collision-free, so
    * no unrelated buckets merge (a hash key would ADD candidates and
    * drift from the generated oracles).
    *
    * Output: (cid, id_a, va, id_b, vb), id_a < id_b, exactly ONCE per pair
    * sharing any bucket, payloads attached — verification runs on the pair
    * row itself, with no re-join of signatures.
    *
    *   1. pairs come from [[semPairs]] on `cid`: its triangle grid bounds
    *      a hot bucket's c(k,2) expansion per task, so a degenerate bucket
    *      (boilerplate band value, empty docs, a near-dup pile) is
    *      distributed, never capped — r7's silent 10k-member cap voided
    *      q63's pigeonhole guarantee on exactly the corpora a dedup
    *      operator exists for (DegenerateBucketSpec pins the c(k,2) count);
    *   2. cross-band dedup is EMIT-ONCE: a pair meeting in several bands
    *      survives only in the LOWEST band where the endpoints' keys agree,
    *      decided locally on the pair row by recomputing the lower bands'
    *      keys from the carried payloads. A `.distinct()` instead was an
    *      exchange of the whole candidate set — 42.7 M rows for q63 at
    *      100×, 2.9 B for q51 (the r14 100× board killer) — and it shuffles
    *      the answer, which grows quadratically on a degenerate corpus.
    *      Downstream aggregates (q76/q93) therefore partial-aggregate
    *      map-side and pair listings stay a straight pipeline.
    *
    * `key` must stay shift/and/getItem over the payload — no lambdas: the
    * first emit-once cut compared key ARRAYS via slice/zip_with/exists,
    * and higher-order functions are CodegenFallback — billions of pairs
    * through an interpreted eval put 29/32 executor threads in
    * ArrayExists.eval (r15 jstack), ~10× the cosine work itself.
    * PlanSpec pins no lambda, no Window and no pair-keyed aggregate on
    * every caller's plan.
    */
  private[graft] def bandedPairs(rows: DataFrame, numBands: Int,
      keyBits: Int, chunkSize: Int = 1024)(
      key: (Column, Int) => Column): DataFrame = {
    val banded = rows
      .select(col("vec_id"), col("v"),
        posexplode(array((0 until numBands).map(key(col("v"), _)): _*))
          .as(Seq("band", "bkey")))
      .select(
        (col("band").cast("long") * lit(1L << keyBits) + col("bkey")).as("cid"),
        col("vec_id"), col("v"))
    // emit iff no band below this pair's band shares a key, written as
    // one clause per band (`band <= i OR keys differ in band i`): linear
    // in numBands, where a CASE per band repeats the lower bands' keys
    // O(numBands²) times — for q77's 10 compound bands that generated a
    // method past the JIT's 8 KB huge-method limit, which then runs
    // interpreted (2-3× the pair stage's CPU at 10×).
    val band = shiftright(col("cid"), keyBits)
    semPairs(banded, chunkSize).filter((0 until numBands - 1)
      .map(i => band <= i || key(col("va"), i) =!= key(col("vb"), i))
      .foldLeft(lit(true))(_ && _))
  }

  /** Signature via the fused text→signature `MinHashFromText` expression
    * (graft.functions): split + 3-gram shingling + hashing + min in one
    * codegen'd pass. The compositional form (withShingles +
    * MinHashSignature) is kept for the oracle-checked shingle query and
    * spec-asserted EQUAL to this one — but its shingle pipeline runs in
    * the interpreted higher-order-function evaluator, which dominated the
    * signature stage ~3:1 at sf0.1. Keeps docs with >= 3 tokens (at least
    * one shingle), same as withShingles.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("minhash",
        graft.functions.MinHashFromText.minhash_text("text", NumHashes))

  // Output is posexploded to (doc_id, slot, min_hash) scalars: the harness
  // sorts result rows with pandas, and a raw array<bigint> column is
  // unhashable there (r02: "unhashable type: numpy.ndarray") — scalar rows
  // make the rows-only check actually run, and expose each signature slot
  // to direct comparison.
  val q42MinhashSig: Q = (s, d) =>
    minhashSignatures(Tables.documents(s, d))
      .select(col("doc_id"), posexplode(col("minhash")).as(Seq("slot", "min_hash")))
      .orderBy("doc_id", "slot")

  // ---------------------------------------------------------------------------
  // q43 — MinHash-LSH candidate pairs + exact Jaccard verification: band the
  // signature (16 hashes → 4 bands of 4), pair bucket members, then verify
  // candidates with exact shingle Jaccard. At 100 TB only the slim banded
  // rows (doc id + 4 band hashes) shuffle; documents are re-joined for the
  // (rare) verification step.
  val q43MinhashPairs: Q = (s, d) => {
    // Shape chosen for scale AND single-pass efficiency:
    //   1. the signature pipeline runs ONCE and feeds one banded relation
    //      (a self-join over the signatures would recompute them on both
    //      sides or force a persist whose concurrent-broadcast fill
    //      serializes, measured 5-20× slower);
    //   2. each doc carries its 4 band hashes (Murmur3 ints, masked to
    //      32 bits as bucket keys) through bandedPairs, which pairs bucket
    //      members per task-bounded chunk and emits each pair once, from
    //      its lowest shared band — no pair is ever dropped, no distinct;
    //   3. exact-Jaccard verification re-derives shingles from `documents`
    //      only for the surviving candidate pairs.
    // LAZY barrier, as in q63: semPairs reads the banded relation twice
    // (bucket-size aggregate + its join back), and without it the
    // minhash_text scan runs twice. 4 band hashes per doc persisted.
    val sigs = minhashSignatures(Tables.documents(s, d))
      .select(col("doc_id").as("vec_id"),
        array((0 until NumHashes / BandSize).map { b =>
          hash(slice(col("minhash"), b * BandSize + 1, BandSize))
        }: _*).as("v"))
      .localCheckpoint(eager = false)
    val pairs = bandedPairs(sigs, NumHashes / BandSize, keyBits = 32) {
      (v, b) => v.getItem(b).cast("long").bitwiseAND(lit(0xFFFFFFFFL))
    }.select(col("id_a"), col("id_b"))
    // join TEXT first, derive shingles only for the few surviving candidate
    // rows — joining a shingle-projected scan would re-shingle the whole
    // corpus on the probe side of each join
    val docsTxt = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val joined = pairs
      .join(docsTxt.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(docsTxt.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
    addShingles(addShingles(joined, "text_a", "sh_a", dropText = true),
        "text_b", "sh_b", dropText = true)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") / col("uni").cast("double"), 6))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------------------
  // q44 — SimHash (64-bit) near-dup signatures via the native `simhash64`
  // expression (graft.functions.SimHash64): per-token hash64 votes +1/−1
  // on each bit, signature bit = sign of the net vote. One pass inside the
  // scan — the composed form (explode + 64 conditional-sum aggregates)
  // shuffles the whole exploded corpus for a per-document-pure value.
  val q44Simhash: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("__toks", split(col("text"), " "))
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash64("__toks").as("simhash"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------------------
  // q63 — SimHash-banded near-duplicate pairs: the PAIRING stage q44's
  // signatures feed (q44 alone computes signatures; this operator completes
  // the SimHash dedup pipeline the way q43 completes q42's MinHash one).
  // The 64-bit signature splits into 4 disjoint 16-bit bands; candidate
  // pairs share at least one band; verification keeps pairs with Hamming
  // distance <= SimHammingMax via bit_count(xor). With 4 bands, a pair at
  // Hamming <= 3 flips at most 3 bands, so >= 1 band survives intact —
  // by pigeonhole the banded candidates contain EVERY pair the verifier
  // can accept, making the output exactly "all pairs at Hamming <= 3"
  // (measured on the corpus: true near-dups sit at Hamming 0-6 and the
  // random-pair noise floor starts at ~7, so the guaranteed-complete bar
  // is also the discriminating one). The guarantee holds at ANY bucket
  // occupancy: bandedPairs spreads oversized buckets over semPairs'
  // triangle grid instead of dropping them (r7's silent 10k cap — the one
  // place the engine could lose recall at scale — is gone;
  // DegenerateBucketSpec proves the pair set on a 10k+-member degenerate
  // bucket). At 100 TB only (doc_id, bucket, 8-byte signature) rows
  // shuffle; each candidate carries both signatures, so verification is
  // a bit_count on the pair row — no re-join, no candidate distinct.
  //
  // Measured saturation bound (round-11 100× probe): a 16-bit band space
  // holds 2^16 values, so INCIDENTAL candidates — unrelated docs randomly
  // sharing one band — total ~4·C(N/2^16, 2)·2^16 ≈ N²/2^15 pairs once
  // N > ~10^6 and every bucket is occupied. Fresh-JVM task CPU grew 9.6×
  // across the 30×→100× octave (36.6 s → 352 s; 3.33× docs), matching
  // the N²/2^15 collision arithmetic (predicted 10.9×) — the growth is
  // candidate enumeration, uniformly spread (no task hotspot; the skew
  // machinery is orthogonal and healthy). Raising SimBandBits
  // trades the Hamming<=3 pigeonhole guarantee; the published fix that
  // keeps it is Manku, Jain & Das Sarma's block-permutation scheme
  // (WWW'07 §3) — IMPLEMENTED below as q77: band on PAIRS of blocks so
  // the key widens to ~26 bits while >= 1 compound band still survives
  // any 3 flipped bits. q77 produces the identical pair set (spec-pinned
  // + its own brute-force oracle) with the saturation onset pushed from
  // N ~ 10^6 to ~10^7.5. At the corpus sizes this library is oracle-gated
  // on (N <= 10^6) the 4-band plan enumerates fewer candidate rows
  // (4N vs 10N banded rows) and stays the default; past the crossover a
  // consumer switches to q77 for the same answer.
  val SimHammingMax = 3
  private val SimBandBits = 16
  private val SimNumBands = 64 / SimBandBits

  val q63SimhashPairs: Q = (s, d) => {
    // LAZY barrier (r17): semPairs reads the banded relation twice (the
    // bucket-size aggregate and its join back) — without it the per-doc
    // simhash64 scan runs twice in the final DAG. 16 B/doc persisted;
    // materialized inside the first consumer's job.
    val sigs = Tables.documents(s, d)
      .withColumn("__toks", split(col("text"), " "))
      .select(col("doc_id").as("vec_id"),
        graft.functions.SimHash64.simhash64("__toks").as("v"))
      .localCheckpoint(eager = false)
    simhashVerified(bandedPairs(sigs, SimNumBands, SimBandBits) { (v, b) =>
      shiftrightunsigned(v, b * SimBandBits)
        .bitwiseAND(lit((1L << SimBandBits) - 1))
    })
  }

  /** q63/q77's verification: the simhash longs ride the pair row, so the
    * Hamming distance is one bit_count(xor) — no signature re-join. */
  private def simhashVerified(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("hamming", bit_count(col("va").bitwiseXOR(col("vb"))))
      .filter(col("hamming") <= SimHammingMax)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------------------
  // q77 — SimHash near-dup pairs via COMPOUND banding (the scale path for
  // q63). Manku, Jain & Das Sarma (WWW'07 §3) keep the Hamming<=k
  // completeness guarantee at web scale by permuting BLOCKS of the
  // fingerprint so that a long intact prefix leads, then probing the runs
  // that share it; on disk the runs are found by sorting, in Spark the
  // identical candidate set falls out of hash-bucketing on the permuted
  // prefix — same math, shuffle instead of sort, and semPairs' triangle
  // grid already bounds any run's expansion. Concretely:
  //
  //   - split the 64-bit signature into 5 disjoint blocks
  //     (13,13,13,13,12 bits). 3 flipped bits touch <= 3 blocks, so >= 2
  //     blocks are intact — by pigeonhole at least one of the C(5,2) = 10
  //     BLOCK PAIRS is untouched, and banding on the concatenation of
  //     each block pair (25-26-bit keys) finds every pair at
  //     Hamming <= 3. SimilaritySpec verifies the pigeonhole
  //     exhaustively over all C(64,3) = 41,664 bit triples.
  //   - the wider key is the whole point: under UNIFORM band-value
  //     occupancy incidental collisions total ~bands·N²/2^(b+1), so
  //     q63's 4·N²/2^17 = N²/2^15 becomes 10·N²/2^26·2 ≈ N²/2^22.7,
  //     moving the saturation onset from N ~ 10^6 to ~10^7.5 docs.
  //     Measured (BENCH_r12_simhash_paths.json, 100× replica probe,
  //     N = 500k): real signatures CLUSTER — shared language statistics
  //     skew occupancy ~6× above uniform for BOTH schemes — but the
  //     relative gap tracks the key-width arithmetic: q77 enumerates
  //     6.8× fewer distinct candidates (42.7M → 6.2M, DuckDB-counted
  //     from the same signature dump), 2.2× less wall, 1.6× less CPU,
  //     on IDENTICAL output (93,128 pairs both). The trade is 10N
  //     banded rows shuffled instead of 4N — linear cost for quadratic
  //     relief.
  //   - everything downstream is shared with q63: bandedPairs (task-
  //     spread, lossless on degenerate buckets, emit-once), bit_count
  //     verification on the carried signatures. Output semantics are
  //     IDENTICAL ("all pairs at Hamming <= 3"); the oracle is
  //     deliberately brute-force (all-pairs xor in DuckDB) so it is
  //     independent of ANY banding arithmetic, and SimilaritySpec pins
  //     q77 === q63 row-for-row.
  private[graft] val SimBlockWidths: Seq[Int] = Seq(13, 13, 13, 13, 12)
  private[graft] val SimBlockOffsets: Seq[Int] =
    SimBlockWidths.scanLeft(0)(_ + _).init
  private[graft] val SimBlockPairs: Seq[(Int, Int)] =
    for {
      i <- SimBlockWidths.indices
      j <- SimBlockWidths.indices if i < j
    } yield (i, j)

  val q77SimhashPairsBlocked: Q = (s, d) => {
    val sigs = Tables.documents(s, d)
      .withColumn("__toks", split(col("text"), " "))
      .select(col("doc_id").as("vec_id"),
        graft.functions.SimHash64.simhash64("__toks").as("v"))
      .localCheckpoint(eager = false) // see q63: two reads, one simhash scan
    def block(v: Column, i: Int) =
      shiftrightunsigned(v, SimBlockOffsets(i))
        .bitwiseAND(lit((1L << SimBlockWidths(i)) - 1))
    simhashVerified(bandedPairs(sigs, SimBlockPairs.size,
        2 * SimBlockWidths.max) { (v, b) =>
      val (i, j) = SimBlockPairs(b)
      shiftleft(block(v, i), SimBlockWidths(j)).bitwiseOR(block(v, j))
    })
  }

  // ---------------------------------------------------------------------------
  // q47 — exact n-gram Jaccard near-dup ranking: top-20 most similar pairs by
  // exact 3-token-shingle Jaccard over a bounded block (doc_id < 150 — the
  // full-corpus path is q43's LSH). Deterministic: jaccard rounded BEFORE the
  // total-order ranking so both engines cut the top-20 identically.
  val q47NgramJaccard: Q = (s, d) => {
    // intersect 64-bit shingle hashes, not strings: the pairwise
    // array_intersect dominates this block (|pairs| × |shingles|² element
    // probes), and the long-typed path runs primitive-specialized codegen
    // while string probes hash UTF8 bytes per probe. xxhash64 is injective
    // in practice here (a collision within a 200-shingle doc set has
    // probability ~2^-50), so set sizes and intersection counts — and thus
    // the jaccard the oracle checks hash-exactly — are unchanged.
    val sub = Tables.documents(s, d).filter(col("doc_id") < 150)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        // fused shingle+hash (r17): replaces the interpreted
        // transform(shingles, xxhash64) lambda — same longs by the
        // TokenSpans structural identity; set ops don't see order
        array_distinct(graft.functions.TextShingleHashes
          .text_shingle_hashes("text", 3)).as("shingles"))
    val a = sub.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val b = sub.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    // broadcast: bounded-by-predicate side (doc_id < 150) — the q41
    // rationale; without it the 100× rung flips to CartesianProduct
    // (11.8 vs 0.40 cpu-s for identical output).
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"), 6))
      .select("id_a", "id_b", "jaccard")
      .orderBy(desc("jaccard"), asc("id_a"), asc("id_b"))
      .limit(20)
  }
  val q47Sql: String =
    """WITH toked AS (
      |  SELECT doc_id, string_split(text, ' ') AS t
      |  FROM documents WHERE doc_id < 150),
      |sub AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
      |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
      |  FROM toked WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
      |    len(a.sh) AS la, len(b.sh) AS lb
      |  FROM sub a JOIN sub b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b,
      |  round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard
      |FROM pairs
      |ORDER BY jaccard DESC, id_a, id_b LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------------
  // q48 — winnowing document fingerprints (Schleimer et al. 2003, the
  // rolling-hash fingerprinting every plagiarism/near-dup pipeline uses):
  // hash ORDERED 3-token shingles, slide a w=4 window, keep each window's
  // min hash, dedup. Pure higher-order expressions over bound columns.
  // Base hash is hash64 (graft.functions.Hash64) so the oracle is
  // generated PURE DuckDB SQL (q48Sql below, via hashStages);
  // exactness also covered by SimilaritySpec.
  private val WinnowWindow = 4

  val q48Winnowing: Q = (s, d) => {
    // ORDERED shingle hash64s via the fused native expression (r17:
    // duplicates kept, positional — winnowing needs both; the r16
    // `transform(__osh, x -> hash64(x))` lambda evaluated INTERPRETED per
    // shingle, the CodegenFallback HOF trap), window minima via the
    // native monotonic deque: per-doc arrays end to end, no explode, no
    // shuffle before the final orderBy. >= w hashed shingles ⇔ the old
    // >= 2+w token filter (n−2 shingles for n ≥ 3, none below).
    Tables.documents(s, d)
      .withColumn("hs", graft.functions.TextShingleHashes
        .text_shingle_hash64s("text", 3))
      .filter(size(col("hs")) >= WinnowWindow)
      .withColumn("fps",
        array_distinct(graft.functions.SlidingMin.sliding_min("hs", WinnowWindow)))
      .select(col("doc_id"),
        size(col("hs")).as("n_shingles"),
        size(col("fps")).as("n_fingerprints"),
        array_min(col("fps")).as("min_fingerprint"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------------
  // q49 — IVF-bucketed ANN (the scale path for q40's brute force): codebook =
  // the first 8 vectors (deterministic "training"); every vector is assigned
  // to its nearest centroid (one broadcast of 8 rows — no shuffle of the
  // candidate side); queries then search their IvfNProbe nearest cells —
  // multi-probe, like VectorIndex.search's Hamming-1 cell expansion.
  // nprobe=1 is the recall cliff of IVF (a neighbor just across the cell
  // boundary is invisible); probing the top-3 cells recovers boundary
  // neighbors while still touching 3/8ths of the corpus instead of all of
  // it. At 100 TB this is the inverted-file layout: per-cell partitions,
  // query fan-out to nprobe cells instead of the whole corpus.
  val IvfNProbe = 3

  /** Parameterized IVF search: nprobe = how many nearest cells each query
    * scans. nprobe = #cells degenerates to exact brute force — the recall
    * spec uses that as its ground truth.
    */
  def ivfAnn(s: org.apache.spark.sql.SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val wAssign = Window.partitionBy("vec_id").orderBy(desc("ccos"), asc("cid"))
    val scored = emb.join(broadcast(cents))
      .withColumn("ccos",
        cos6("embedding", "cvec"))
      .withColumn("rk", row_number().over(wAssign))
    // database side: every vector lives in exactly ONE cell (rk = 1), so a
    // candidate meets a query through at most one probe — no dedup needed
    val assigned = scored.filter(col("rk") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
    // query side: the nprobe nearest cells per query
    val probes = scored
      .filter(col("vec_id") >= 8 && col("vec_id") < 13 && col("rk") <= nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("cid").as("qcid"))
    val wRank = Window.partitionBy("qid").orderBy(desc("cosine"), asc("vec_id"))
    assigned.join(broadcast(probes),
        col("cid") === col("qcid") && col("vec_id") =!= col("qid"))
      .withColumn("cosine",
        cos6("qvec", "embedding"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id").as("nid"), col("cosine"))
      .orderBy("qid", "rank")
  }

  val q49IvfAnn: Q = (s, d) => ivfAnn(s, d, IvfNProbe)
  private def dotSql(a: String, b: String): String =
    s"""(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       | FROM (SELECT unnest($a) AS x, unnest($b) AS y))""".stripMargin
  private def normSql(a: String): String =
    s"sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest($a) AS x)))"
  val q49Sql: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    round(${dotSql("e.embedding", "c.cvec")}
       |      / (${normSql("e.embedding")} * ${normSql("c.cvec")}), 6) AS ccos
       |  FROM embeddings e CROSS JOIN cents c),
       |cellranked AS (
       |  SELECT vec_id, embedding, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rk
       |  FROM scored),
       |assigned AS (
       |  SELECT vec_id, embedding, cid FROM cellranked WHERE rk = 1),
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qvec, cid
       |  FROM cellranked
       |  WHERE rk <= $IvfNProbe AND vec_id >= 8 AND vec_id < 13),
       |cand AS (
       |  SELECT q.qid, a.vec_id AS nid,
       |    round(${dotSql("q.qvec", "a.embedding")}
       |      / (${normSql("q.qvec")} * ${normSql("a.embedding")}), 6) AS cosine
       |  FROM q JOIN assigned a ON q.cid = a.cid AND a.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, nid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
       |  FROM cand)
       |SELECT qid, rank, nid, cosine FROM ranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------------
  // q69 — k-means clustering over embeddings (Lloyd's algorithm, the
  // SemDeDup-style semantic primitive: cluster the corpus's embedding
  // space, then dedup/diversity-sample WITHIN clusters so the quadratic
  // work never crosses cluster boundaries): KmIters rounds of the shared
  // deterministic [[Lloyd]] fit, then a final assignment.
  //
  // K grows ~ sqrt(N) with the corpus (floor KmKMin): with K fixed, 100×
  // the data means 100× the vectors per cluster and q74's within-cluster
  // quadratic explodes; K ~ sqrt(N) keeps expected cluster size O(sqrt(N))
  // so Σ|cluster|² stays ~N^1.5 worst-case and ~N·sqrt(N)/K ≈ N in the
  // balanced case. N comes from the parquet footer (Tables.rowCount — a
  // driver-side footer read, the catalog rowCount statistic at scale), and
  // the SQL oracle derives the SAME K from count(*) inside the query, so
  // the two sides cannot drift.
  //
  // K is CAPPED at KmKMax = 2^16 (the usual IVF codebook ceiling): the
  // centroid relation broadcasts every Lloyd round, and uncapped √N at
  // 10^12 vectors would be a 10^6-row × 64-double ≈ 0.5 GB broadcast.
  // Capped, it tops out at 2^16 × 64 × 8 B = 32 MB. Honest cost statement:
  // Lloyd assignment is O(N·K) distance evaluations — N^1.5 while K still
  // tracks √N, linear-in-N once the cap binds. Past the cap, expected
  // cluster size grows as N/2^16, so q74 no longer relies on K alone to
  // bound its within-cluster quadratic — semPairs chunk-salts each
  // cluster's pair generation so per-task work stays ≤ ~c(chunk, 2)
  // regardless of cluster size (and of assignment skew, which no K can
  // fix: a corpus of near-identical embeddings puts everything in ONE
  // cluster at any K).
  val KmKMin = 8
  val KmKMax = 65536
  val KmIters = 2
  private[graft] def kmK(n: Long): Int =
    math.min(math.max(KmKMin, math.ceil(math.sqrt(n.toDouble)).toInt), KmKMax)

  /** The fitted Lloyd assignment (vec_id, v, cid, dist2) — shared by q69
    * (assignment report) and q74 (semantic dedup within clusters).
    *
    * The corpus scan re-runs per Lloyd pass instead of being checkpointed
    * (r17: a fanOut+checkpoint was measured SLOWER at the bench SF, where
    * every pass's compute is ~1 ms, and it is also the plan that needs no
    * corpus persist at 100 TB).
    */
  private[graft] def kmAssigned(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val k = kmK(Tables.rowCount(s, d, "embeddings"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    Lloyd.assign(s, emb, "v", None, Lloyd.fit(s, emb, "v", None, k, KmIters))
  }

  val q69Kmeans: Q = (s, d) =>
    kmAssigned(s, d)
      .select(col("vec_id"), col("cid").as("cluster"), col("dist2"))
      .orderBy("vec_id")

  // ---------------------------------------------------------------------------
  // q74 — semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
  // embedding space (q69's Lloyd fit), then WITHIN each cluster drop any
  // vector that has a more-senior (lower vec_id) neighbor above the cosine
  // bar. The clustering is what makes the quadratic step tractable — pairs
  // never cross cluster boundaries, so pair volume is Σ|cluster|², bounded
  // by balancing K with corpus size (K ~ √N keeps clusters O(√N)); the
  // keep-lowest-id rule replaces the paper's random representative so both
  // engines pick identical survivors.
  val SemDedupTheta = 0.35 // q41's near-dup bar, kept consistent across the family

  /** Within-cluster unordered pairs (id_a < id_b) with both vectors,
    * bounded per task at ANY cluster size. Input: (cid, vec_id, v); the
    * pair generator under q74's k-means clusters and, via [[bandedPairs]],
    * under every LSH bucket (q43/q51/q63/q76/q77/q93).
    *
    * `cid` must be non-null: the cluster-size join below is an inner join
    * on `cid`, so a null-`cid` row would silently vanish. It always is —
    * k-means ids are non-null, and bandedPairs' composite bucket keys come
    * from a `posexplode` of a non-null key array.
    *
    * A plain self-join on cid enumerates one cluster's m² products inside
    * the single task owning that cid — a hot cluster, or a degenerate LSH
    * bucket (and one no K schedule can prevent: a corpus of near-identical
    * embeddings lands in ONE cluster at any K).
    * Clusters that fit one chunk keep the direct join. Larger clusters go
    * through a triangle grid: each member salts into chunk
    * c = hash(vec_id) mod nchunks, an "a" copy fans out to buckets
    * (ca = c, cb >= c) and a "b" copy to (ca <= c, cb = c), and the join
    * on (cid, ca, cb) meets each unordered chunk pair in exactly one
    * bucket — pair (u, w) with chunks (c1 <= c2) joins only in bucket
    * (c1, c2). In an OFF-diagonal bucket the a/b roles are fixed by chunk,
    * not by id (the senior member may sit in the higher chunk), so the
    * keep-filter is (ca < cb) OR (id_a < id_b) — id order dedups only the
    * diagonal buckets, where both orientations meet — and the output then
    * re-normalizes each pair to (lower id, its vector, higher id, its
    * vector). Each bucket holds ~chunkSize rows per side, so per-task join
    * work is
    * ~c(chunkSize, 2) and the m² total spreads over ~nchunks²/2 tasks.
    * Replication cost is nchunks× per member — inherent to emitting m²
    * pairs, and confined to the hot clusters (the grid relations are
    * EMPTY when every cluster fits one chunk, as at all tested SFs).
    */
  private[graft] def semPairs(a: DataFrame,
      chunkSize: Int = 1024): DataFrame = {
    // Cluster sizing via aggregate + join (r18, the r17 "slim count-join
    // variant", measured and kept): the window form
    // `count().over(partitionBy(cid))` dragged every row's FULL vector
    // payload through the window's sort and buffered whole cid
    // partitions — on a hot cluster that is the entire cluster's vectors
    // in one task's window buffer. The count relation is one row per
    // cluster (<= K, config-bounded), so the size join streams instead
    // of buffering and the payload no longer passes through a sort.
    val counts = a.groupBy("cid")
      .agg(ceil(count(lit(1)) / lit(chunkSize.toDouble)).cast("int").as("nchunks"))
    val sized = a.join(counts, "cid")
      .withColumn("chunk", pmod(xxhash64(col("vec_id")), col("nchunks")).cast("int"))
    val small = sized.filter(col("nchunks") === 1)
    val smallPairs = small
      .select(col("cid"), col("vec_id").as("id_a"), col("v").as("va"))
      .join(small.select(col("cid"), col("vec_id").as("id_b"), col("v").as("vb")),
        Seq("cid"))
      .filter(col("id_a") < col("id_b"))
    val big = sized.filter(col("nchunks") > 1)
    val aSide = big.select(col("cid"), col("chunk").as("ca"),
      explode(sequence(col("chunk"), col("nchunks") - 1)).as("cb"),
      col("vec_id").as("id_a"), col("v").as("va"))
    val bSide = big.select(col("cid"),
      explode(sequence(lit(0), col("chunk"))).as("ca"),
      col("chunk").as("cb"),
      col("vec_id").as("id_b"), col("v").as("vb"))
    // Never broadcast either grid side: the grid path only carries data
    // when a cluster overflows a chunk, i.e. when the relations are big
    // by construction — a broadcast pick (plausible under stale stats,
    // certain on a small probe) would collapse the whole expansion back
    // into the tasks that hold aSide, undoing the distribution the grid
    // exists for. Both sides are Generate-derived (explode(sequence)),
    // so plans.GenerateStatsGuard pins NO_BROADCAST_HASH on them and the
    // join exchanges on (cid, ca, cb) — which IS the spread. (r10 used a
    // hand-placed merge hint here; the guard covers the whole bug class.)
    val bigPairs = aSide.join(bSide, Seq("cid", "ca", "cb"))
      .filter(col("ca") < col("cb") || col("id_a") < col("id_b"))
      .select(col("cid"),
        least(col("id_a"), col("id_b")).as("lo"),
        when(col("id_a") < col("id_b"), col("va")).otherwise(col("vb")).as("vlo"),
        greatest(col("id_a"), col("id_b")).as("hi"),
        when(col("id_a") < col("id_b"), col("vb")).otherwise(col("va")).as("vhi"))
      .select(col("cid"), col("lo").as("id_a"), col("vlo").as("va"),
        col("hi").as("id_b"), col("vhi").as("vb"))
    smallPairs.select(col("cid"), col("id_a"), col("va"), col("id_b"), col("vb"))
      .unionByName(bigPairs)
  }

  private[graft] def semanticDedup(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    // LAZY barrier (r17): the assignment feeds BOTH the pair generation
    // and the final keep/drop join -- without it the argmin scan runs
    // twice in the final DAG
    val a = kmAssigned(s, d)
      .select(col("vec_id"), col("cid"), col("v"))
      .localCheckpoint(eager = false)
    val dropped = semPairs(a.select(col("cid"), col("vec_id"), col("v")))
      .withColumn("cosine", cos6("va", "vb"))
      .filter(col("cosine") >= SemDedupTheta)
      .select(col("id_b").as("vec_id")).distinct()
    a.select(col("vec_id"), col("cid").as("cluster"))
      .join(dropped.withColumn("k", lit(false)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("k"), lit(true)).as("kept"))
      .orderBy("vec_id")
  }

  val q74SemanticDedup: Q = (s, d) => semanticDedup(s, d)

  // Oracle: the same unrolled iterations, generated per round so the CTE
  // chain cannot drift from KmIters/kmK.
  private def kmAssignCte(i: Int, cents: String): String =
    s"""sc$i AS (
       |  SELECT e.vec_id, e.v, c.cid,
       |    round((SELECT sum((z.a - z.b) * (z.a - z.b))
       |           FROM (SELECT unnest(e.v) AS a, unnest(c.cv) AS b) z), 6) AS dist2
       |  FROM embd e CROSS JOIN $cents c),
       |a$i AS (
       |  SELECT vec_id, v, cid, dist2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist2, cid) AS rk FROM sc$i)
       |  WHERE rk = 1)""".stripMargin
  private def kmUpdateCte(i: Int): String =
    s"""dx$i AS (
       |  SELECT cid, unnest(range(len(v))) AS d, v FROM a$i),
       |dm$i AS (
       |  SELECT cid, d,
       |    CAST(sum(CAST(round(v[d + 1], 12) AS DECIMAL(28,12))) AS DOUBLE)
       |      / count(*) AS m
       |  FROM dx$i GROUP BY cid, d),
       |c$i AS (SELECT cid, list(m ORDER BY d) AS cv FROM dm$i GROUP BY cid)""".stripMargin

  /** The Lloyd-fit CTE chain (shared by the q69 and q74 oracles), ending in
    * the final assignment relation `a${KmIters+1}`.
    */
  private def kmCtes: String = {
    val rounds = (1 to KmIters)
      .map(i => kmAssignCte(i, if (i == 1) "c0" else s"c${i - 1}") + ",\n" +
        kmUpdateCte(i))
      .mkString(",\n")
    s"""embd AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv FROM embd
       |  WHERE vec_id < (SELECT least(greatest($KmKMin,
       |    CAST(ceil(sqrt(count(*))) AS BIGINT)), $KmKMax) FROM embd)),
       |$rounds,
       |${kmAssignCte(KmIters + 1, s"c$KmIters")}""".stripMargin
  }

  val q69Sql: String =
    s"""WITH $kmCtes
       |SELECT vec_id, cid AS cluster, dist2 FROM a${KmIters + 1}
       |ORDER BY vec_id""".stripMargin

  val q74Sql: String =
    s"""WITH $kmCtes,
       |pairs AS (
       |  SELECT y.vec_id AS dropped
       |  FROM a${KmIters + 1} x JOIN a${KmIters + 1} y
       |    ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE round(${dotSql("x.v", "y.v")}
       |      / (${normSql("x.v")} * ${normSql("y.v")}), 6) >= $SemDedupTheta)
       |SELECT e.vec_id, e.cid AS cluster,
       |  e.vec_id NOT IN (SELECT dropped FROM pairs) AS kept
       |FROM a${KmIters + 1} e
       |ORDER BY e.vec_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q51 — random-hyperplane LSH for embedding cosine (the cosine analog of
  // q43's MinHash banding — the SCALE path where q41's bounded brute force
  // can't go): a 32-plane sign signature computed in one pass inside the
  // scan (native rh_signature), banded into 4 × 8-bit buckets (banding
  // trades one long low-recall bucket for 4 independent high-recall ones:
  // cos 0.9 ⇒ ~75% pair recall vs ~8% unbanded), exact-cosine verification
  // computed IN the bucket expansion. Vectors ride into the buckets (4N
  // vector rows shuffle — linear), and each pair is emitted once, with its
  // cosine computed on the pair row (bandedPairs). An earlier shape
  // (id-only candidate pairs, then two SMJ verification joins
  // re-attaching embeddings to the pair set) was
  // the r12 100× board's one real failure: ~10^8 candidate rows each
  // carrying two 64-float vectors is ~55 GB of sort spill per join — the
  // task died with [SPILL_OUT_OF_MEMORY] "No space left on device" in a
  // fresh JVM, i.e. a genuine plan defect, not sweep contamination. The
  // pair-carried payload, not the pair count, was the killer: the same
  // pairs as slim rows dedup in ~2.5 GB.
  val q51RhLshPairs: Q = (s, d) => q51Pairs(s, d).orderBy("id_a", "id_b")

  /** q76 — the q51 pair pipeline reduced to order-free aggregates. q51
    * itself is OUTPUT-bound at replica scale (104.8M true pairs at 100×:
    * the work is ~linear per emitted row, so listing pairs measures the
    * sink, not the engine) — this variant runs the identical signature /
    * banding / bucket-pair / exact-verify pipeline and collapses it to one
    * row, which is what puts the cosine pair family on the growth boards.
    * The cosine sum aggregates the 6dp-rounded per-pair values as
    * DECIMAL, so the result is independent of aggregation order (the
    * repo-wide float-parity rule).
    */
  val q76RhLshStats: Q = (s, d) =>
    q51Pairs(s, d).agg(
      count(lit(1)).as("n_pairs"),
      dec_sum(dec(col("cosine"), 18, 6)).cast("double").as("sum_cos6"),
      min("cosine").as("min_cosine"),
      max("cosine").as("max_cosine"))

  private def q51Pairs(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // Band width adapts to corpus size: ~8 vectors per bucket target, so
    // bucket population (and the c(k,2) pair step) stays constant as N
    // grows — with FIXED 8-bit bands, 10× more vectors meant 10× fuller
    // buckets and a quadratic candidate blowup (measured 5s at 10× sf0.1).
    // N comes from parquet footer metadata (catalog statistics at scale),
    // NOT a count() action — that was a full extra scan job per invocation.
    // [8, 15] bits → 4×bits ≤ 60 planes.
    val n = Tables.rowCount(s, d, "embeddings")
    val bandBits = math.min(15, math.max(8,
      math.ceil(math.log(math.max(n / 8.0, 2.0)) / math.log(2.0)).toInt))
    val mask = (1L << bandBits) - 1
    // Every row carries its full signature long next to its embedding —
    // band b's key is a bit-slice of it, both for bucketing and for the
    // emit-once dedup, so the pair payload grows by 8 bytes, not a
    // 4-element array.
    val signed = emb.select(col("vec_id"),
      struct(col("embedding").as("e"),
        graft.functions.RandomHyperplaneSignature
          .rh_signature("embedding", 4 * bandBits).as("sg")).as("v"))
    // chunkSize 2048 (not the old 256): grid shuffle volume per hot
    // bucket is rows·(nchunks/2)·rowWidth per side, and the 100× replica
    // corpus concentrates 15-20k rows into single band buckets
    // (100× bucket census: top bucket 20,085 rows, 2.9B true pairs) — 256
    // put 12.8 GB through the grid exchange where 2048 puts 1.7 GB, and a
    // 2048² cell is a ~2M-cosine task (CPU, not disk).
    bandedPairs(signed, 4, bandBits, chunkSize = 2048) { (v, b) =>
      shiftright(v.getField("sg"), b * bandBits).bitwiseAND(lit(mask))
    }
      .withColumn("cosine", cos6("va.e", "vb.e"))
      .filter(col("cosine") >= 0.35)
      .select("id_a", "id_b", "cosine")
  }

  // ---------------------------------------------------------------------------
  // q93 — the WIDE-signature scale rung over q76 (r15 verdict "What's
  // missing #1"). q51/q76 pack 4 bands into ONE 64-bit rh_signature, which
  // clamps the adaptive ~8-rows-per-bucket band width at 15 bits: past
  // n ≈ 2¹⁵·8 ≈ 262k vectors the rule stops adapting, mean bucket
  // occupancy grows linearly in N, and candidate volume picks up a
  // birthday term ~N²/2¹⁶ on ANY corpus (BENCH_r15_q77cands_probe.json
  // measured exactly this on fixed-width SimHash bands). q93 runs the
  // SAME pipeline — identical plane family, banding scheme, triangle
  // grid, emit-once dedup, cosine bar — with each band key its own long
  // (functions.RhBandKeys), so bandBits tracks log2(N/8) to 31 bits
  // (n ≈ 2³¹·8 ≈ 17G vectors before THIS rung clamps). At oracle scale
  // (sf0.01, bandBits = 8 for both) q93 ≡ q76 by construction — the
  // q87-vs-q40 pattern: same answer, different storage layout, the wide
  // one being the 100 TB path. BENCH_r16_rhwide_probe.json records the
  // divergence past the knee (200k → 2M vectors: clamped candidates grow
  // ~N², wide stay ~linear with flat bucket occupancy).

  /** The q51 band-width rule WITHOUT the one-long clamp: 31-bit ceiling
    * comes from keeping `band·2^bits + key` compositing and the oracle's
    * `1::BIGINT << p` shift arithmetic comfortably inside signed 64-bit.
    */
  private[graft] def rhWideBandBits(n: Long): Int = math.min(31, math.max(8,
    math.ceil(math.log(math.max(n / 8.0, 2.0)) / math.log(2.0)).toInt))

  /** Emit-once-deduped candidate pairs (id_a, id_b, va, vb) under the
    * wide layout — q51Pairs' pipeline (adaptive width, composite bucket
    * key, triangle grid, emit-once) with only the key representation
    * changed: every row carries its band-key ARRAY, read by `getItem` — a
    * codegen'd primitive (no HOFs; the r15 ArrayExists.eval lesson).
    */
  private[graft] def rhWideCandidates(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val bandBits = rhWideBandBits(Tables.rowCount(s, d, "embeddings"))
    val keyed = Tables.embeddings(s, d)
      .select(col("vec_id"), struct(col("embedding").as("e"),
        graft.functions.RhBandKeys
          .rh_band_keys("embedding", bandBits, 4).as("sg")).as("v"))
    bandedPairs(keyed, 4, bandBits, chunkSize = 2048) { (v, b) =>
      v.getField("sg").getItem(b)
    }.select(col("id_a"), col("id_b"), col("va"), col("vb"))
  }

  /** q93 — q76's aggregate tail over the wide-signature pipeline. */
  val q93RhWideStats: Q = (s, d) =>
    rhWideCandidates(s, d)
      .withColumn("cosine", cos6("va.e", "vb.e"))
      .filter(col("cosine") >= 0.35)
      .agg(
        count(lit(1)).as("n_pairs"),
        dec_sum(dec(col("cosine"), 18, 6)).cast("double").as("sum_cos6"),
        min("cosine").as("min_cosine"),
        max("cosine").as("max_cosine"))

  // ---------------------------------------------------------------------------
  // Generated oracle SQL for the hash-valued family (q42/q43/q44/q48/q51).
  //
  // These queries' outputs ARE hash values, so the oracle must compute the
  // identical hash — in PLAIN SQL, because the grading harness runs the
  // oracle on a bare DuckDB connection (no UDF registration; a Python
  // xxh64 UDF only ever existed on tools/check.py's local connection,
  // which is why the family's base hash is graft.functions.Hash64, not
  // xxhash64). Everything is GENERATED from the same Scala constants the
  // native expressions use (Hash64.PolyMult + fmix64 multipliers,
  // multiply-shift slot family, SimHash bit weights, Rademacher plane
  // coefficients), so the two sides cannot drift. Wrapping mod-2^64
  // arithmetic is done in HUGEINT with the multiplies split into 32-bit
  // halves (DuckDB integer ops error on overflow instead of wrapping);
  // xor/shift run in UBIGINT, where they are well-defined logical ops.

  private val U64 = "18446744073709551616" // 2^64, HUGEINT literal
  private val I64Min = "9223372036854775808" // 2^63

  /** Signed BIGINT from a HUGEINT value in [0, 2^64). Package-visible:
    * TextQueries.q81Sql composes it with [[hashStages]]. */
  private[graft] def toI64(e: String): String =
    s"CAST(CASE WHEN $e >= $I64Min THEN $e - $U64 ELSE $e END AS BIGINT)"

  /** `(v * m) mod 2^64` over HUGEINT `v` in [0, 2^64): the multiplier is
    * split into unsigned 32-bit halves so every intermediate stays under
    * 2^97 (HUGEINT max is 2^127−1; a direct 64×64 product is not).
    */
  private def mulmodSql(v: String, m: Long): String = {
    val mh = m >>> 32
    val ml = m & 0xffffffffL
    s"(($v * $mh::HUGEINT) % 4294967296 * 4294967296 + $v * $ml::HUGEINT) % $U64::HUGEINT"
  }

  /** `v ^ (v >>> 33)` — the fmix64 xor-shift, done in UBIGINT (logical
    * shift, bitwise xor), back to HUGEINT for the next multiply.
    */
  private def xorShift33Sql(v: String): String =
    s"CAST(xor(CAST($v AS UBIGINT), CAST($v AS UBIGINT) >> 33) AS HUGEINT)"

  /** CTE stages computing hash64 (graft.functions.Hash64) of column
    * `strCol` of CTE `src` in pure DuckDB SQL: the seed-42 polynomial over
    * code points as one `list_reduce`, then fmix64 as five stages
    * (xor-shift / multiply / xor-shift / multiply / xor-shift). The final
    * stage is named `<prefix>h` with columns (carry..., u) where u is the
    * UNSIGNED hash as HUGEINT in [0, 2^64). Constants come from Hash64
    * itself — the two sides cannot drift; Hash64Spec pins known vectors.
    * Code points via per-character indexing (`s[i]` + unicode()): exact
    * for text without combining marks, including astral-plane characters
    * (DuckDB indexes per code point where Scala folds the surrogate pair).
    */
  def hashStages(prefix: String, src: String, carry: Seq[String],
      strCol: String): String = {
    val cols = carry.mkString(", ")
    val ph = graft.functions.Hash64.PolyMult >>> 32
    val pl = graft.functions.Hash64.PolyMult & 0xffffffffL
    s"""${prefix}p AS (
       |  SELECT $cols, list_reduce(list_prepend(42::HUGEINT,
       |      list_transform(range(1, length($strCol)+1),
       |        i -> unicode($strCol[i])::HUGEINT)),
       |    (a, c) -> ((a * $ph::HUGEINT) % 4294967296 * 4294967296
       |      + a * $pl::HUGEINT + c) % $U64::HUGEINT) AS v
       |  FROM $src),
       |${prefix}x1 AS (SELECT $cols, ${xorShift33Sql("v")} AS v FROM ${prefix}p),
       |${prefix}m1 AS (SELECT $cols, ${mulmodSql("v", 0xff51afd7ed558ccdL)} AS v FROM ${prefix}x1),
       |${prefix}x2 AS (SELECT $cols, ${xorShift33Sql("v")} AS v FROM ${prefix}m1),
       |${prefix}m2 AS (SELECT $cols, ${mulmodSql("v", 0xc4ceb9fe1a85ec53L)} AS v FROM ${prefix}x2),
       |${prefix}h AS (SELECT $cols, ${xorShift33Sql("v")} AS u FROM ${prefix}m2)""".stripMargin
  }

  /** (slot, ah, al, ub): per-slot multiply-shift constants, the multiplier
    * split into unsigned 32-bit halves for overflow-free mod-2^64 products.
    */
  private def slotValuesSql: String =
    (0 until NumHashes).map { h =>
      val a = graft.functions.MinHashSignature.splitmix64(2L * h) | 1L
      val b = graft.functions.MinHashSignature.splitmix64(2L * h + 1L)
      s"($h, ${a >>> 32}::HUGEINT, ${a & 0xffffffffL}::HUGEINT, " +
        s"${java.lang.Long.toUnsignedString(b)}::HUGEINT)"
    }.mkString(",\n    ")

  /** Shared CTE chain ending in `mins(doc_id, slot, min_hash)` — the
    * MinHash signature slots, signed like the Scala Long compare.
    * (a*x+b) mod 2^64 with a = ah*2^32 + al: al*xl stays < 2^64 and the
    * cross terms are folded mod 2^32 before re-scaling, so every
    * intermediate fits HUGEINT.
    */
  private def minhashMinsCte: String =
    s"""toked AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |shingle AS (
       |  SELECT doc_id, unnest(list_transform(range(len(t) - 2),
       |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
       |  FROM toked),
       |${hashStages("sh", "shingle", Seq("doc_id"), "sh")},
       |hsplit AS (
       |  SELECT doc_id, u // 4294967296 AS xh, u % 4294967296 AS xl
       |  FROM shh),
       |slots(slot, ah, al, ub) AS (VALUES
       |    $slotValuesSql),
       |vals AS (
       |  SELECT doc_id, slot,
       |    ((al*xl + ((al*xh + ah*xl) % 4294967296) * 4294967296) % $U64
       |      + ub) % $U64 AS v
       |  FROM hsplit CROSS JOIN slots),
       |mins AS (
       |  SELECT doc_id, slot, min(${toI64("v")}) AS min_hash
       |  FROM vals GROUP BY doc_id, slot)""".stripMargin

  val q42Sql: String =
    s"""WITH $minhashMinsCte
       |SELECT doc_id, slot, min_hash FROM mins ORDER BY doc_id, slot""".stripMargin

  // q43: buckets on the band VALUES where Spark buckets on murmur3 of the
  // band slice — same-slice pairs always collide on both sides; a cross-
  // slice murmur3 collision could only ADD a Spark candidate, which the
  // exact-jaccard filter then has to pass anyway. Both sides are lossless
  // over bucket membership (bandedPairs spreads oversized buckets, never
  // drops them), and DISTINCT here is the same set Spark's emit-once
  // dedup keeps, so the candidate sets agree at any occupancy.
  val q43Sql: String =
    s"""WITH $minhashMinsCte,
       |sig AS (
       |  SELECT doc_id, list(min_hash ORDER BY slot) AS sig
       |  FROM mins GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b, sig[b*$BandSize+1 : b*$BandSize+$BandSize] AS bandsig
       |  FROM sig CROSS JOIN (SELECT unnest(range(${NumHashes / BandSize})) AS b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.bandsig = y.bandsig AND x.doc_id < y.doc_id),
       |dsh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
       |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
       |  FROM toked),
       |ver AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
       |    len(a.sh) AS la, len(b.sh) AS lb
       |  FROM cand c
       |  JOIN dsh a ON a.doc_id = c.id_a
       |  JOIN dsh b ON b.doc_id = c.id_b)
       |SELECT id_a, id_b,
       |  round(CAST(inter AS DOUBLE) / CAST(la + lb - inter AS DOUBLE), 6) AS jaccard
       |FROM ver
       |WHERE round(CAST(inter AS DOUBLE) / CAST(la + lb - inter AS DOUBLE), 6) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** (bit, 2^bit) for the SimHash vote/reassembly — 2^63 only fits HUGEINT. */
  private def bitValuesSql: String =
    (0 until 64).map { b =>
      s"($b, ${java.lang.Long.toUnsignedString(1L << b)}::HUGEINT)"
    }.mkString(",\n    ")

  /** Shared CTE chain ending in `sig(doc_id, s)` — the 64-bit SimHash as an
    * UNSIGNED HUGEINT in [0, 2^64). Used by q44 (signatures) and q63
    * (banded near-dup pairs) so the two oracles cannot drift.
    */
  private def simhashSigCte: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |${hashStages("tk", "toks", Seq("doc_id"), "tok")},
       |hu AS (
       |  SELECT doc_id, u FROM tkh),
       |bits(bit, p2) AS (VALUES
       |    $bitValuesSql),
       |votes AS (
       |  SELECT doc_id, bit, any_value(p2) AS p2,
       |    sum(CASE WHEN (u // p2) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM hu CROSS JOIN bits GROUP BY doc_id, bit),
       |sig AS (
       |  SELECT doc_id, sum(CASE WHEN v > 0 THEN p2 ELSE 0::HUGEINT END) AS s
       |  FROM votes GROUP BY doc_id)""".stripMargin

  val q44Sql: String =
    s"""WITH $simhashSigCte
       |SELECT doc_id, ${toI64("s")} AS simhash FROM sig ORDER BY doc_id""".stripMargin

  // q63: band values from the UNSIGNED signature via HUGEINT div/mod — the
  // same bit field shiftrightunsigned extracts from the signed Long;
  // Hamming via bit_count(xor) over the signed BIGINTs (two's-complement
  // bit pattern is identical). Both sides are lossless over bucket
  // membership (bandedPairs spreads oversized buckets), so the
  // candidate sets agree at any occupancy.
  // NOTE: declared in this section, AFTER the U64/I64Min
  // constants — a val interpolating them from earlier in the file reads
  // null mid-initialization (caught by tools/check.py: every band came
  // out 0 and the oracle returned all 124,750 pairs).
  private def bandDivValuesSql: String =
    (0 until SimNumBands).map { b =>
      s"($b, ${BigInt(1) << (b * SimBandBits)}::HUGEINT)"
    }.mkString(",\n    ")

  val q63Sql: String =
    s"""WITH $simhashSigCte,
       |signed AS (
       |  SELECT doc_id, ${toI64("s")} AS sh FROM sig),
       |bdiv(b, dv) AS (VALUES
       |    $bandDivValuesSql),
       |bands AS (
       |  SELECT doc_id, b, (s // dv) % ${1L << SimBandBits} AS band_bits
       |  FROM sig CROSS JOIN bdiv),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.band_bits = y.band_bits AND x.doc_id < y.doc_id),
       |ver AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
       |  FROM cand c
       |  JOIN signed a ON a.doc_id = c.id_a
       |  JOIN signed b ON b.doc_id = c.id_b)
       |SELECT id_a, id_b, hamming FROM ver WHERE hamming <= $SimHammingMax
       |ORDER BY id_a, id_b""".stripMargin

  // q77: deliberately BRUTE-FORCE (all-pairs xor) — the oracle must be
  // independent of every banding/pigeonhole argument it is checking, and
  // at the oracle SF (500 docs → 124,750 pairs) exhaustion is cheap.
  val q77Sql: String =
    s"""WITH $simhashSigCte,
       |signed AS (
       |  SELECT doc_id, ${toI64("s")} AS sh FROM sig)
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |  CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
       |FROM signed x JOIN signed y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sh, y.sh)) <= $SimHammingMax
       |ORDER BY id_a, id_b""".stripMargin

  val q48Sql: String =
    s"""WITH toked AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= ${2 + WinnowWindow}),
       |idx AS (
       |  SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toked),
       |sstr AS (
       |  SELECT doc_id, i, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS sh
       |  FROM idx),
       |${hashStages("w", "sstr", Seq("doc_id", "i"), "sh")},
       |hrow AS (
       |  SELECT doc_id, i, ${toI64("u")} AS h FROM wh),
       |hs AS (
       |  SELECT doc_id, list(h ORDER BY i) AS hs FROM hrow GROUP BY doc_id),
       |win AS (
       |  SELECT doc_id, len(hs) AS n_shingles,
       |    list_distinct(list_transform(range(len(hs) - ${WinnowWindow - 1}),
       |      i -> list_min(hs[i+1 : i+$WinnowWindow]))) AS fps
       |  FROM hs)
       |SELECT doc_id, n_shingles, len(fps) AS n_fingerprints,
       |  list_min(fps) AS min_fingerprint
       |FROM win ORDER BY doc_id""".stripMargin

  /** (plane, dim, ±1): Rademacher coefficients from the SAME splitmix the
    * native expression uses, for every plane the adaptive band width can
    * reach (4 bands × 15 bits = 60 planes) over the 64-dim embeddings.
    */
  private def coefValuesSql: String =
    (0 until 60).flatMap { p =>
      (0 until 64).map { dim =>
        s"($p,$dim,${graft.functions.RandomHyperplaneSignature.rademacher(p, dim).toInt})"
      }
    }.mkString(",")

  // q51: the oracle recomputes the adaptive band width from count(*) — the
  // parquet footer rowCount the Spark side reads IS the exact row count.
  // Dot-product accumulation order differs between engines (Scala sums
  // dims in order; DuckDB's sum is unordered), so a plane sum within ~1e-13
  // of zero could in principle flip a signature bit — across the test
  // corpus no plane sum is near that boundary, and the exact-cosine
  // verification bounds the blast radius to candidate membership.
  private val q51CteSql: String =
    s"""WITH params AS (
       |  SELECT CAST(least(15, greatest(8,
       |    CAST(ceil(log2(greatest(count(*) / 8.0, 2.0))) AS INTEGER)))
       |    AS INTEGER) AS bandbits
       |  FROM embeddings),
       |coef(p, d, c) AS (VALUES $coefValuesSql),
       |dims AS (
       |  SELECT vec_id, embedding, unnest(range(len(embedding))) AS d
       |  FROM embeddings),
       |comp AS (
       |  SELECT vec_id, coef.p, CAST(embedding[dims.d+1] AS DOUBLE) * coef.c AS term
       |  FROM dims JOIN coef ON coef.d = dims.d
       |  WHERE coef.p < 4 * (SELECT bandbits FROM params)),
       |acc AS (
       |  SELECT vec_id, p, sum(term) AS dot FROM comp GROUP BY vec_id, p),
       |sig AS (
       |  SELECT vec_id,
       |    sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END) AS sig
       |  FROM acc GROUP BY vec_id),
       |bands AS (
       |  SELECT vec_id, b,
       |    (sig >> (b * (SELECT bandbits FROM params)))
       |      & ((1::BIGINT << (SELECT bandbits FROM params)) - 1) AS band_bits
       |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.band_bits = y.band_bits AND x.vec_id < y.vec_id),
       |ver AS (
       |  SELECT c.id_a, c.id_b,
       |    round(${dotSql("a.embedding", "b.embedding")}
       |      / (${normSql("a.embedding")} * ${normSql("b.embedding")}), 6) AS cosine
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.id_a
       |  JOIN embeddings b ON b.vec_id = c.id_b),
       |hits AS (
       |  SELECT id_a, id_b, cosine FROM ver WHERE cosine >= 0.35)""".stripMargin

  val q51Sql: String =
    s"""$q51CteSql
       |SELECT id_a, id_b, cosine FROM hits
       |ORDER BY id_a, id_b""".stripMargin

  // q76: same CTE chain, order-free aggregate tail (DECIMAL sum of the
  // 6dp-rounded cosines ⇒ engine- and order-independent).
  val q76Sql: String =
    s"""$q51CteSql
       |SELECT count(*) AS n_pairs,
       |  CAST(sum(CAST(cosine AS DECIMAL(18,6))) AS DOUBLE) AS sum_cos6,
       |  min(cosine) AS min_cosine,
       |  max(cosine) AS max_cosine
       |FROM hits""".stripMargin

  /** Like [[coefValuesSql]] but for every plane the WIDE band rule can
    * reach (4 bands × 31 bits = 124 planes) — q93's coefficient table.
    */
  private def coefValuesWideSql: String =
    (0 until 124).flatMap { p =>
      (0 until 64).map { dim =>
        s"($p,$dim,${graft.functions.RandomHyperplaneSignature.rademacher(p, dim).toInt})"
      }
    }.mkString(",")

  // q93: q51's CTE chain with the band width UNCLAMPED to 31 bits and the
  // band keys computed directly per (vec_id, band) group — `p // bandbits`
  // is the band, `p % bandbits` the bit within it (integer `//`: DuckDB's
  // `/` on integers yields DOUBLE). At sf0.01 bandbits = 8 for both rules,
  // so q93's oracle result equals q76's — the rungs diverge only past the
  // 262k-vector knee (BENCH_r16_rhwide_probe.json).
  val q93Sql: String =
    s"""WITH params AS (
       |  SELECT CAST(least(31, greatest(8,
       |    CAST(ceil(log2(greatest(count(*) / 8.0, 2.0))) AS INTEGER)))
       |    AS INTEGER) AS bandbits
       |  FROM embeddings),
       |coef(p, d, c) AS (VALUES $coefValuesWideSql),
       |dims AS (
       |  SELECT vec_id, embedding, unnest(range(len(embedding))) AS d
       |  FROM embeddings),
       |comp AS (
       |  SELECT vec_id, coef.p, CAST(embedding[dims.d+1] AS DOUBLE) * coef.c AS term
       |  FROM dims JOIN coef ON coef.d = dims.d
       |  WHERE coef.p < 4 * (SELECT bandbits FROM params)),
       |acc AS (
       |  SELECT vec_id, p, sum(term) AS dot FROM comp GROUP BY vec_id, p),
       |bands AS (
       |  SELECT vec_id,
       |    CAST(p // (SELECT bandbits FROM params) AS INTEGER) AS b,
       |    sum(CASE WHEN dot > 0
       |      THEN (1::BIGINT << (p % (SELECT bandbits FROM params)))
       |      ELSE 0 END) AS band_bits
       |  FROM acc GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.band_bits = y.band_bits AND x.vec_id < y.vec_id),
       |ver AS (
       |  SELECT c.id_a, c.id_b,
       |    round(${dotSql("a.embedding", "b.embedding")}
       |      / (${normSql("a.embedding")} * ${normSql("b.embedding")}), 6) AS cosine
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.id_a
       |  JOIN embeddings b ON b.vec_id = c.id_b),
       |hits AS (
       |  SELECT id_a, id_b, cosine FROM ver WHERE cosine >= 0.35)
       |SELECT count(*) AS n_pairs,
       |  CAST(sum(CAST(cosine AS DECIMAL(18,6))) AS DOUBLE) AS sum_cos6,
       |  min(cosine) AS min_cosine,
       |  max(cosine) AS max_cosine
       |FROM hits""".stripMargin

  val queries: Map[String, Q] = Map(
    "q40_cosine_topk" -> q40CosineTopK,
    "q41_cosine_pairs" -> q41CosinePairs,
    "q42_minhash_signatures" -> q42MinhashSig,
    "q43_minhash_lsh_pairs" -> q43MinhashPairs,
    "q44_simhash" -> q44Simhash,
    "q63_simhash_pairs" -> q63SimhashPairs,
    "q77_simhash_pairs_blocked" -> q77SimhashPairsBlocked,
    "q47_ngram_jaccard_topk" -> q47NgramJaccard,
    "q48_winnowing_fingerprints" -> q48Winnowing,
    "q49_ivf_ann" -> q49IvfAnn,
    "q51_rh_lsh_pairs" -> q51RhLshPairs,
    "q76_rh_lsh_stats" -> q76RhLshStats,
    "q93_rh_wide_stats" -> q93RhWideStats,
    "q69_kmeans" -> q69Kmeans,
    "q74_semantic_dedup" -> q74SemanticDedup)

  val oracles: Map[String, String] = Map(
    "q40_cosine_topk" -> q40Sql,
    "q41_cosine_pairs" -> q41Sql,
    "q42_minhash_signatures" -> q42Sql,
    "q43_minhash_lsh_pairs" -> q43Sql,
    "q44_simhash" -> q44Sql,
    "q63_simhash_pairs" -> q63Sql,
    "q77_simhash_pairs_blocked" -> q77Sql,
    "q47_ngram_jaccard_topk" -> q47Sql,
    "q48_winnowing_fingerprints" -> q48Sql,
    "q49_ivf_ann" -> q49Sql,
    "q51_rh_lsh_pairs" -> q51Sql,
    "q76_rh_lsh_stats" -> q76Sql,
    "q93_rh_wide_stats" -> q93Sql,
    "q69_kmeans" -> q69Sql,
    "q74_semantic_dedup" -> q74Sql)
}
