package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline over the
  * `documents` table: token counting, quality scoring, n-gram shingling,
  * exact-hash deduplication, and a heuristic language-ID check.
  *
  * All of these are pure column expressions (whole-stage codegen, no UDFs):
  * at 100 TB the text ops must stay inside codegen and never materialize
  * per-token rows unless an explode is semantically required.
  */
object TextQueries {

  private[graft] val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Whitespace tokens of `text` (documents are single-space separated). */
  private def toks = split(col("text"), " ")

  // ---------------------------------------------------------------------------
  // q32 — token counting: whitespace tokenizer + char stats + a BPE-ish
  // subword count (greedy <=4-char alphanumeric chunks, punctuation as
  // single tokens — the shape of a merged-subword vocabulary; the regex is
  // deliberately dialect-portable between Java and DuckDB/RE2).
  //
  // Both q32 and q33 read their primitives from ONE native `text_stats`
  // pass (functions/TextStats.scala) instead of the compositional
  // size(regexp_extract_all(...)) / interpreted-HOF forms — the r14 100×
  // board's two largest honest perf gaps (36.4 s / 109.6 s, cpu exponents
  // 1.47/1.77). Semantics are pinned to the oracle SQL below, which still
  // spells out the compositional definition — the native expression must
  // (and does, bit-for-bit) agree with it.
  private val SubwordRe = "[A-Za-z0-9]{1,4}|[^A-Za-z0-9 ]"
  // The ORDER BY tail of q32/q33 goes through a checkpoint barrier:
  // range partitioning's SAMPLING pass re-executes the child plan, so
  // sorting directly over the stats projection runs the text_stats scan
  // TWICE (SCALING.md, r16 q33 split at 10×: full 1.54 s vs stats-only
  // 0.47 s vs
  // checkpoint-then-sort 0.72 s — the sort tail was 65% of the wall and
  // most of it was the re-executed scan). The barrier materializes the
  // SMALL stats rows once (~50 B/doc — the documents themselves never
  // re-read) and the sort samples those; linear and bounded at any scale.
  val q32TokenCount: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextStats.text_stats("text").as("st"))
      .select(col("doc_id"), col("lang"),
        col("st.n_tokens").as("n_tokens"),
        col("st.n_chars").as("text_len"),
        col("st.n_unique_tokens").as("n_unique_tokens"),
        col("st.n_subword_tokens").as("n_subword_tokens"))
      .localCheckpoint()
      .orderBy("doc_id")
  val q32Sql: String =
    s"""SELECT doc_id, lang,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  length(text) AS text_len,
       |  len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
       |  len(regexp_extract_all(text, '$SubwordRe')) AS n_subword_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q33 — quality scoring: stopword ratio, type-token ratio, mean token
  // length — the length/punct/stopword heuristics of pretraining filters.
  // Ratios are single exact divisions of integers ⇒ bit-identical doubles.
  val q33Quality: Q = (s, d) => {
    val nTok = col("st.n_tokens")
    val nChars = col("st.n_chars")
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextStats.text_stats("text", stopwords).as("st"))
      .select(col("doc_id"),
        nTok.as("n_tokens"),
        (col("st.n_stopword_tokens").cast("double") / nTok.cast("double"))
          .as("stopword_ratio"),
        (col("st.n_unique_tokens").cast("double") / nTok.cast("double"))
          .as("type_token_ratio"),
        ((nChars - nTok + 1).cast("double") / nTok.cast("double"))
          .as("mean_token_len"),
        // guarded: an empty document has length 0 (ANSI errors on /0;
        // DuckDB would IEEE-divide to NaN — NULL in both instead)
        when(nChars > 0,
          col("st.n_punct_chars").cast("double") / nChars.cast("double"))
          .as("punct_ratio"))
      .localCheckpoint() // see q32: sort sampling re-executes the scan
      .orderBy("doc_id")
  }
  val q33Sql: String =
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  CAST(len(list_filter(string_split(text, ' '),
       |      t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
       |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS type_token_ratio,
       |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
       |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len,
       |  CASE WHEN length(text) > 0
       |    THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
       |      / CAST(length(text) AS DOUBLE) END AS punct_ratio
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q34 — corpus rollup per (lang, source): counts + exact mean doc length.
  val q34LangStats: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("lang", "source")
  val q34Sql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------------------
  // q35 — exact deduplication (hash-groupBy): keep the lowest doc_id per
  // md5(text) group; emit group size. The exact-dedup stage every pretraining
  // pipeline runs before near-dup. One shuffle on the hash — at 100 TB hash
  // first so the shuffle key is 16 bytes, not the document.
  val q35ExactDedup: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")
  val q35Sql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q36 — n-gram shingling + Jaccard self-similarity profile: distinct
  // 3-token shingles per doc (the input signature for MinHash, D10-style
  // chunking). Pure higher-order array expressions — no explode.
  // Tokens bound as a column + zip-of-slices shingling (NOT element_at over
  // an inlined split() inside the lambda — that re-splits per element, O(n²)
  // per document; see SimilarityQueries.withShingles).
  val q36Shingles: Q = (s, d) => {
    val t = col("__toks")
    val n = size(t)
    // distinct count over the native hashed shingles (r17): the r16 form
    // ran a `transform` lambda (interpreted HOF evaluation per element)
    // and an array_distinct comparing multi-token STRINGS byte-by-byte;
    // text_shingle_hashes + long-typed distinct counts the same set by
    // the q47/q58/q78 injective-hash argument (the count is the output,
    // never the shingle; oracle stays string-keyed)
    Tables.documents(s, d)
      .withColumn("__toks", toks)
      .filter(n >= 3)
      .select(col("doc_id"),
        (n - 2).as("n_shingles"),
        size(array_distinct(graft.functions.TextShingleHashes
          .text_shingle_hashes("text", 3))).as("n_unique_shingles"))
      .orderBy("doc_id")
  }
  val q36Sql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) - 2 AS n_shingles,
      |  len(list_distinct(list_transform(
      |    range(len(string_split(text, ' ')) - 2),
      |    i -> string_split(text, ' ')[i + 1] || ' ' ||
      |         string_split(text, ' ')[i + 2] || ' ' ||
      |         string_split(text, ' ')[i + 3]))) AS n_unique_shingles
      |FROM documents WHERE len(string_split(text, ' ')) >= 3
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q37 — language-ID agreement check: n-gram-heuristic language guess from
  // stopword evidence vs the labeled lang column. (The heuristic itself is
  // deliberately simple — the operator shape is "score per class, argmax".)
  val q37LangId: Q = (s, d) => {
    val enHits = col("st.n_stopword_tokens")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextStats
          .text_stats("text", Seq("the", "a", "of")).as("st"))
      .select(col("doc_id"), col("lang"),
        enHits.as("en_stopword_hits"),
        (enHits.cast("double") / col("st.n_tokens").cast("double"))
          .as("en_score"))
      // see q32: sort sampling re-executes the scan; LAZY — the sampling
      // pass itself materializes the barrier (no separate eager job)
      .localCheckpoint(eager = false)
      .orderBy("doc_id")
  }
  val q37Sql: String =
    """SELECT doc_id, lang,
      |  len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of'))) AS en_stopword_hits,
      |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of'))) AS DOUBLE)
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS en_score
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q57 — sequence-packing plan: pretraining batches concatenate documents
  // into fixed token budgets; the PLAN (which docs land in which pack) is
  // a running token sum in deterministic doc order — a doc belongs to the
  // pack where its first token lands in its shard's concatenated stream.
  // The corpus is packed SHARD-LOCALLY: the cumulative sum partitions by
  // shard = doc_id div PackShardDocs, so every shard packs independently
  // and in parallel — a single global ordered window would funnel the
  // whole corpus through one task at 100 TB (it was this plan's one
  // bench WARN before sharding). A pack never spans shards (each shard's
  // last pack may run short — the same boundary waste any sharded packer
  // accepts), and (shard, pack_id) identifies a pack globally.
  val PackBudget = 512
  val PackShardDocs = 128
  val q57SequencePacking: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(s, d)
      .select(col("doc_id"), expr(s"doc_id div $PackShardDocs").as("shard"),
        size(toks).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      // start offset within the shard = cum - n_tokens; integer division
      // picks the shard-local pack
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $PackBudget"))
      .groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard", "pack_id")
  }
  val q57Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, doc_id // $PackShardDocs AS shard,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, shard, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT shard, CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS pack_id,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1, 2 ORDER BY shard, pack_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q58 — train/eval decontamination: split the corpus with the
  // deterministic hash (D9), then flag eval docs sharing ANY 8-token
  // shingle with ANY train doc — the n-gram-overlap contamination check
  // every benchmark-hygiene pipeline runs before training. 8 tokens, not
  // the dedup pipeline's 3: on this corpus a 3-gram bar flags EVERY eval
  // doc (common trigrams are ubiquitous in a small vocabulary) while
  // 8-grams isolate genuine near-copies — the same reason production
  // checks use long n-grams (GPT-3's was 13). Shape: explode both sides'
  // shingles and LEFT SEMI join eval postings against train postings —
  // only (doc_id, shingle) rows shuffle, the semi join never explodes
  // rows, and the distinct collapses multi-shingle hits.
  val DecontaminationNgram = 8
  val TrainFraction = 0.8

  /** Shared by q58/q86: (doc_id, distinct XXH64-hashed 8-gram shingles,
    * is_train). Shingles are HASHED at the scan (fused
    * `text_shingle_hashes` — short docs get an empty set built in, so
    * short eval docs still appear in the report as contaminated=false):
    * the report never outputs a shingle, so every downstream stage — the
    * per-doc distinct, the postings explode, the train-side distinct,
    * the semi join, q86's bloom — works on 8-byte longs instead of
    * ~50-byte 8-token strings (r16 verdict #2; the q47/q78
    * injective-hash trick, collision class argued in the expression's
    * scaladoc). The compositional HOF idiom the string form replaced ran
    * interpreted at ~500 µs/doc (r13). The DuckDB oracle still runs the
    * string-keyed compositional SQL — the check stays hash-independent.
    */
  private[graft] def decontaminationDocs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val n = DecontaminationNgram
    Tables.documents(s, d)
      .select(col("doc_id"),
        array_distinct(graft.functions.TextShingleHashes
          .text_shingle_hashes("text", n)).as("shingles"),
        (graft.hashBucket01(col("doc_id")) < TrainFraction).as("is_train"))
  }

  val q58Decontamination: Q = (s, d) => {
    // LAZY barrier (r17): the hashed-shingle scan feeds three consumers
    // (train side, eval postings, the final eval report) -- one scan,
    // materialized by the first consumer's job
    val docs = decontaminationDocs(s, d).localCheckpoint(eager = false)
    val trainShingles = docs.filter(col("is_train"))
      .select(explode(col("shingles")).as("shingle")).distinct()
    val evalPostings = docs.filter(!col("is_train"))
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val contaminated = evalPostings
      .join(trainShingles, Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(!col("is_train"))
      .select(col("doc_id"))
      .join(contaminated.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------------
  // q86 — bloom-prefiltered decontamination: q58's EXACT output through the
  // scale shape for an asymmetric contamination check. q58 shuffles every
  // eval (doc_id, shingle) posting into the semi join; at 100 TB of training
  // candidates checked against a fixed eval/benchmark suite the probe side's
  // postings dwarf the reference side's. The bloom path builds a FIXED-SIZE
  // summary of the reference shingle set with Catalyst's own
  // BloomFilterAggregate (partial sketches OR-merged map-side — one binary
  // reaches the driver, bounded by numBits/8 regardless of data), embeds it
  // as a literal, and drops non-matching postings INSIDE the probe-side scan
  // stage — before the exchange — so only bloom survivors (true hits +
  // numBits-tunable false positives) ever shuffle. The exact semi join then
  // settles false positives, keeping the output identical to q58's: the
  // oracle is literally q58's SQL. Same two-sided contract as Spark's
  // injected runtime bloom filters; materialized here as a library operator
  // because the builder controls sizing and reuse across queries.
  //
  // Sizing: 2^20 bits (128 KiB) / 2^17 expected items ⇒ ~5 hash probes.
  // The sf corpora carry ~10^5-10^6 distinct train shingles, so the filter
  // runs saturated there (every probe passes, the semi join does q58's
  // work); at the operator's actual target — small reference sets vs huge
  // probe corpora — occupancy is low and the scan-side drop rate is the
  // win. Correctness never depends on occupancy (oracle-gated).
  val BloomBits = 1L << 20
  val BloomItems = 1L << 17
  // (r17: q58's three-consumer docs checkpoint is NOT applied here — it
  // would move the bloom probe off the parquet scan stage onto persisted
  // RDD blocks, trading q86's spec-pinned scan-stage-drop contract (the
  // whole point of the bloom at 100 TB: non-matching postings die before
  // anything materializes) for a corpus-scale persist.)
  val q86BloomDecontamination: Q = (s, d) => {
    val docs = decontaminationDocs(s, d)
    // checkpointed: the bloom build's `.head` action and the exact semi
    // join BOTH consume the distinct train-shingle relation — without the
    // barrier the train-side scan + explode + distinct runs twice (one of
    // r17's decomposition findings behind q86's 2.3× ratio; the bloom is
    // saturated at sf scales, so the duplicated build dominated the
    // "overhead" the bloom was blamed for)
    val trainShingles = docs.filter(col("is_train"))
      .select(explode(col("shingles")).as("shingle")).distinct()
      .localCheckpoint(eager = false) // materialized by the bloom build's .head
    // the shingle column IS the XXH64 long (decontaminationDocs hashes at
    // the scan), so it feeds the bloom directly — identical bits to the
    // old xxhash64(shingle-string), per the text_shingle_hashes contract
    val bf = trainShingles
      .agg(graft.functions.BloomFunctions
        .bloomAgg(col("shingle"), BloomItems, BloomBits).as("bf"))
      .head.getAs[Array[Byte]]("bf") // bounded: numBits/8 bytes, data-independent
    val evalPostings = docs.filter(!col("is_train"))
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val prefiltered =
      if (bf == null) evalPostings.filter(lit(false)) // empty train side
      else evalPostings.filter(graft.functions.BloomFunctions
        .bloomContains(lit(bf), col("shingle")))
    val contaminated = prefiltered
      .join(trainShingles, Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(!col("is_train"))
      .select(col("doc_id"))
      .join(contaminated.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }
  val q58Sql: String = {
    // constants interpolated from the SAME vals as the Spark query (the
    // generated-SQL convention: literals copied by hand drift on change);
    // DuckDB's range(negative) is already empty, so short docs keep an
    // empty shingle list and stay in the report like the Spark side
    val n = DecontaminationNgram
    s"""WITH toked AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      / 4294967295.0 < $TrainFraction AS is_train
      |  FROM documents),
      |sub AS (
      |  SELECT doc_id, is_train,
      |    list_distinct(list_transform(range(len(t) - ${n - 1}),
      |      i -> list_aggregate(t[i+1:i+$n], 'string_agg', ' '))) AS sh
      |  FROM toked),
      |train_sh AS (
      |  SELECT DISTINCT unnest(sh) AS shingle FROM sub WHERE is_train),
      |eval_post AS (
      |  SELECT doc_id, unnest(sh) AS shingle FROM sub WHERE NOT is_train),
      |contaminated AS (
      |  SELECT DISTINCT doc_id FROM eval_post
      |  WHERE shingle IN (SELECT shingle FROM train_sh))
      |SELECT s.doc_id, (c.doc_id IS NOT NULL) AS contaminated
      |FROM sub s LEFT JOIN contaminated c USING (doc_id)
      |WHERE NOT s.is_train ORDER BY s.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q78 — exact duplicated-substring SPANS (Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better": remove verbatim repeated
  // substrings, not just whole-document dups — the ExactSubstr pass every
  // serious corpus build runs alongside document-level MinHash). The paper
  // uses a suffix array; the Spark-first equivalent at fixed granularity W
  // is sliding W-token window hashing: a window whose token sequence occurs
  // >= 2 times ANYWHERE in the corpus (other docs or the same doc) is
  // duplicated, and maximal runs of duplicated windows merge into spans —
  // exactly the suffix-array output quantized to W tokens. Shape at 100 TB:
  //   - window hashes are computed scan-side (transform + slice +
  //     array_join + xxhash64, the q58 shingle idiom); only slim
  //     (doc_id, pos, h) rows ever shuffle — 24 bytes per window, the
  //     same hash-before-shuffle rule as q35's exact dedup;
  //   - corpus-wide window frequency is ONE count-over-window pass
  //     partitioned by the hash — not a groupBy + self-join, which would
  //     derive the exploded relation twice and shuffle it twice (measured
  //     on the replica ladder: ~1.5x less wall at 1x/10x; flat at 100x
  //     where the hash shuffle itself dominates either form);
  //   - span merging is one keyed window per doc (partition-local sort,
  //     no global ordering).
  // Internally Spark groups by xxhash64 of the window string (what you
  // would actually shuffle at scale); the oracle groups by the window
  // STRING itself, so the check is independent of the hash (they diverge
  // only on an xxhash64 collision between distinct windows — ~2^-50 at
  // oracle corpus sizes, the q47 argument). Positions are 1-based token
  // indices; span_end is exclusive (span covers tokens
  // [span_start, span_end-1]); windows <= W apart merge (overlapping or
  // exactly adjacent duplicated regions read as one span).
  val DupSpanW = 8
  val q78DupSpans: Q = (s, d) => {
    val w = DupSpanW
    val wins = Tables.documents(s, d)
      .filter(size(toks) >= w)
      .select(col("doc_id"),
        // fused shingle+hash: no per-window string, no HOF dispatch —
        // values bit-equal to xxhash64(text_shingles(..)) by the
        // text_shingle_hashes contract
        posexplode(graft.functions.TextShingleHashes
          .text_shingle_hashes("text", w)).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("h"))
    val dup = wins
      .withColumn("occ", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("occ") >= 2)
      .drop("occ")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("prev", lag(col("pos"), 1).over(wDoc))
      .withColumn("ns",
        when(col("prev").isNull || col("pos") - col("prev") > w, 1).otherwise(0))
      .withColumn("span_id", sum(col("ns")).over(
        wDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + w).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
      .orderBy("doc_id", "span_start")
  }
  val q78Sql: String = {
    val w = DupSpanW
    s"""WITH toked AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= $w),
       |idx AS (
       |  SELECT doc_id, t, unnest(range(len(t) - ${w - 1})) AS i FROM toked),
       |wins AS (
       |  SELECT doc_id, i + 1 AS pos,
       |    list_aggregate(t[i+1:i+$w], 'string_agg', ' ') AS wstr
       |  FROM idx),
       |freq AS (SELECT wstr FROM wins GROUP BY wstr HAVING count(*) >= 2),
       |dup AS (SELECT w.doc_id, w.pos FROM wins w JOIN freq f USING (wstr)),
       |flag AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $w
       |      THEN 0 ELSE 1 END AS ns
       |  FROM dup),
       |sp AS (
       |  SELECT doc_id, pos, sum(ns) OVER (
       |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM flag)
       |SELECT doc_id, min(pos) AS span_start, max(pos) + $w AS span_end,
       |  count(*) AS n_windows
       |FROM sp GROUP BY doc_id, span_id
       |ORDER BY doc_id, span_start""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q79 — DSIR importance weights (Xie et al. 2023, "Data Selection for
  // Language Models via Importance Resampling"): score every raw document
  // by how target-like its hashed n-gram distribution is — the standard
  // data-SELECTION step that sits between quality filtering (q33/q59) and
  // mixing (q62) in a corpus build. Model: unigrams + bigrams hash into
  // B = 256 buckets; bucket probabilities are Laplace-smoothed bag-of-
  // hashed-ngrams fits of the TARGET domain (here: the lexicographically
  // first source, a deterministic stand-in for "quality domain") and the
  // RAW rest; a doc's log importance weight is
  //   sum_b cnt_doc[b] * (ln p_target[b] - ln p_raw[b]).
  // Shape at 100 TB:
  //   - grams never leave their document: the native `dsir_bucket_counts`
  //     expression emits each doc's dense B-slot count vector scan-side,
  //     so NO per-gram (or per-(doc,bucket)) relation ever shuffles — the
  //     model aggregate collapses map-side to ≤ B rows per partition and
  //     the per-doc score sum to ~1 row per doc;
  //   - the bucket model is a <= B-row relation: built with one tiny
  //     aggregate, joined back as a BROADCAST — the per-doc scoring join
  //     never shuffles the corpus;
  //   - bucket = md5-prefix (the q18/hashBucket01 idiom) so both engines
  //     compute the identical feature hash with no generated-SQL chain —
  //     q79 stays OUT of the hash family. Engine-side the prefix comes
  //     from the native `md5_prefix32` expression (same value, no
  //     hex-string round-trip — the r16 verdict's named per-gram cost);
  //     the oracle keeps the idiomatic substring(md5(..)) SQL;
  //   - determinism: the per-(doc, bucket) term is rounded to 12dp and
  //     summed as DECIMAL(28,12) (the q66 convention), so the one
  //     order-dependent float sum is exact and order-free in both engines.
  val DsirBuckets = 256
  /** q79's scoring relation (one row per raw doc) WITHOUT the total-order
    * tail — factored out because q82 consumes it unsorted (its
    * TakeOrdered heap never needs the range exchange). In the r16
    * relational shape, sorting this directly re-executed the whole
    * scoring pipeline for range-partition sampling (the q32/q33
    * double-scan defect — found by r17's decomposition probe when the
    * registered q79 ran ~1.5 s SLOWER than q82, which embeds it and adds
    * work); in the fused shape the re-executed child is only the narrow
    * projection over checkpointed vectors, so q79 sorts it directly.
    */
  private[graft] def q79ScoresDf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val b = DsirBuckets
    val docs = Tables.documents(s, d)
    // per-doc DENSE bucket-count vector, fused scan-side (native
    // dsir_bucket_counts): the per-(doc, bucket) grain the 12-dp rounding
    // requires is produced WITHOUT exploding the corpus's grams into an
    // exchange — the r17 decomposition probe measured that count shuffle
    // as half of q79's 10× wall. Checkpointed because the vectors feed
    // BOTH the bucket model and the per-doc scoring (the q69 "scan
    // exactly once" discipline); b × 8 bytes per doc, bounded.
    // LAZY checkpoint: the first consumer (the tgt aggregate)
    // materializes it in its own job — an eager barrier was a whole
    // extra job at the per-query floor
    val counts = docs.select(col("doc_id"), col("source"),
        graft.functions.DsirBucketCounts
          .dsir_bucket_counts("text", b).as("bc"))
      .localCheckpoint(eager = false)
    // target source: a bounded driver action (1 row — the q62/q86 class),
    // read off the checkpointed counts (never a second parquet scan);
    // null only on an empty corpus, where the scoring relation is empty
    // anyway
    val tgtRow = counts.agg(min(col("source")).as("tgt")).head
    val tgt = if (tgtRow.isNullAt(0)) null else tgtRow.getString(0)
    val withTgt = counts
      .withColumn("is_target", col("source") === lit(tgt))
    // per-bucket model: ONE vec_sum aggregate per class gives ct/cr as
    // two b-slot vectors — elementwise adds over the 50k count vectors,
    // partial-aggregated map-side (one vector per task crosses the
    // wire), where the posexplode + groupBy(bucket) spelling this
    // replaces manufactured b rows per DOC (~2 s of the 10× wall, r17
    // decomposition probe). Collected: 2 rows, bounded by construction.
    val sums = withTgt.groupBy("is_target")
      .agg(graft.functions.LongVecSum.vec_sum(col("bc")).as("s"))
      .collect()
    def classSum(isTgt: Boolean): Array[Long] = sums
      .find(r => !r.isNullAt(0) && r.getBoolean(0) == isTgt)
      .map(_.getSeq[Long](1).toArray).getOrElse(new Array[Long](b))
    val ct = classSum(true)
    val cr = classSum(false)
    val tt = ct.sum
    val tr = cr.sum
    // λ driver-side with the SAME arithmetic the Catalyst column form
    // evaluated — long adds cast to double, java.lang.StrictMath.log
    // (what Catalyst's Log evaluates and codegens; verified against the
    // shipped spark-catalyst bytecode) — so every λ double is
    // bit-identical to the broadcast-join relation it replaces. The
    // per-doc finisher (filter cnt>0 → join λ → round 12dp → DECIMAL
    // sum) then runs as ONE native expression per doc
    // (functions.DsirScore, parity argued and spec-pinned there) — no
    // explode, no join, no aggregate, no shuffle on the scoring side.
    val lamArr = Array.tabulate(b) { k =>
      StrictMath.log((ct(k) + 1).toDouble / (tt + b).toDouble) -
        StrictMath.log((cr(k) + 1).toDouble / (tr + b).toDouble)
    }
    withTgt.filter(!col("is_target"))
      .select(col("doc_id"), col("source"),
        round(graft.functions.DsirScore.dsir_score(col("bc"), lamArr), 6)
          .as("log_weight"))
  }
  // No checkpoint barrier before this ORDER BY: range-partition sampling
  // re-executes the child, but the child here is a narrow fused
  // projection over the ALREADY-checkpointed count vectors (~0.3 s at
  // 10×), cheaper than materializing the scores relation a second time
  // (r17 probe: sort_nockpt 1.88 s vs ckpt-then-sort 2.27 s). Contrast
  // q32/q33/q37, whose sort child is the full document scan.
  val q79DsirWeights: Q = (s, d) => q79ScoresDf(s, d).orderBy("doc_id")
  /** q79's generated chain WITHOUT the final ORDER BY, reusable as a CTE
    * body (the q74/q76 shared-chain idiom) — q82 embeds it.
    */
  private val q79Core: String = {
    val b = DsirBuckets
    s"""WITH toked AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
       |uni AS (
       |  SELECT doc_id, source, unnest(t) AS gram FROM toked),
       |bi AS (
       |  SELECT doc_id, source,
       |    list_aggregate(t[i+1:i+2], 'string_agg', ' ') AS gram
       |  FROM (SELECT doc_id, source, t, unnest(range(len(t) - 1)) AS i
       |        FROM toked)),
       |grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
       |db AS (
       |  SELECT doc_id, source,
       |    CAST(('0x' || substring(md5(gram), 1, 8)) AS BIGINT) % $b AS bucket,
       |    count(*) AS cnt
       |  FROM grams GROUP BY 1, 2, 3),
       |tgt AS (SELECT min(source) AS tgt FROM documents),
       |bt AS (
       |  SELECT bucket,
       |    sum(CASE WHEN source = (SELECT tgt FROM tgt) THEN cnt ELSE 0 END) AS ct,
       |    sum(CASE WHEN source != (SELECT tgt FROM tgt) THEN cnt ELSE 0 END) AS cr
       |  FROM db GROUP BY bucket),
       |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM bt),
       |lam AS (
       |  SELECT bucket,
       |    ln(CAST(ct + 1 AS DOUBLE) / (tt + $b))
       |      - ln(CAST(cr + 1 AS DOUBLE) / (tr + $b)) AS lam
       |  FROM bt CROSS JOIN tot),
       |terms AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(round(d.cnt * l.lam, 12) AS DECIMAL(28,12)) AS term
       |  FROM db d JOIN lam l USING (bucket)
       |  WHERE d.source != (SELECT tgt FROM tgt))
       |SELECT doc_id, source, round(CAST(sum(term) AS DOUBLE), 6) AS log_weight
       |FROM terms GROUP BY doc_id, source""".stripMargin
  }
  val q79Sql: String = q79Core + " ORDER BY doc_id"

  // ---------------------------------------------------------------------------
  // q82 — DSIR importance RESAMPLING (the execution half of Xie et al.
  // 2023, which q79 only scores): draw a fixed-size sample proportional
  // to the importance weights via the Gumbel-top-k trick (Kool, van Hoof
  // & Welling 2019: top-k of log w_i + Gumbel noise IS a weighted sample
  // without replacement — exactly A-ES in log space, so no exp(log_weight)
  // overflow for extreme weights). Noise is deterministic: u_i from the
  // md5-prefix of doc_id (the q18/q72 idiom, shifted to (0,1) strictly so
  // ln(-ln(u)) is always finite), g_i = -ln(-ln(u_i)). Composition
  // finisher like q74/q59: the oracle embeds q79's generated CTE chain.
  // Plans as TakeOrderedAndProject over q79's output — per-partition
  // heaps, no global sort; the per-doc key is scan-local arithmetic.
  val DsirSampleK = 50
  val q82DsirSample: Q = (s, d) => {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    q79ScoresDf(s, d) // unsorted core: TakeOrdered never needs q79's sort
      .withColumn("gumbel_key", round(col("log_weight") - log(-log(u)), 6))
      .orderBy(desc("gumbel_key"), asc("doc_id"))
      .limit(DsirSampleK)
      .select("doc_id", "source", "log_weight", "gumbel_key")
  }
  val q82Sql: String =
    s"""WITH w AS ($q79Core)
       |SELECT doc_id, source, log_weight,
       |  round(log_weight - ln(-ln(
       |    (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |       AS BIGINT) + 0.5) / 4294967296.0)), 6) AS gumbel_key
       |FROM w
       |ORDER BY gumbel_key DESC, doc_id LIMIT $DsirSampleK""".stripMargin

  // ---------------------------------------------------------------------------
  // q59 — the curation pipeline COMPOSED end-to-end, the way a real corpus
  // build chains the stages: quality gate (minimum stopword ratio — a
  // natural-language floor; tokens >= 5) → exact dedup (keep the min
  // doc_id per md5(text), A7's keep-first) → deterministic stratified
  // sample (q56's md5 gate at half rate) → per-(lang, source) yield
  // report. One relational plan with ONE exchange: the kept doc's
  // attributes ride the dedup shuffle inside a doc_id-first struct-min
  // (min doc_id wins and carries its lang/source/n_chars), so documents
  // are scanned once and no re-attach join exists; the sample gate and
  // rollup run on the already-tiny dedup output.
  val QualityMinStopwordRatio = 0.02
  val QualityMinTokens = 5
  val CurationSampleRate = 0.5
  val q59CurationPipeline: Q = (s, d) => {
    // one text_stats pass for the gate (same native kernel as q32/q33)
    val st = graft.functions.TextStats.text_stats("text", stopwords)
    val quality = Tables.documents(s, d)
      .withColumn("__st", st)
      .filter(col("__st.n_tokens") >= QualityMinTokens &&
        col("__st.n_stopword_tokens").cast("double")
          / col("__st.n_tokens").cast("double") >= QualityMinStopwordRatio)
      .drop("__st")
    val deduped = quality
      .groupBy(md5(col("text")).as("h"))
      .agg(min(struct(col("doc_id"), col("lang"), col("source"),
        col("n_chars"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.lang").as("lang"),
        col("k.source").as("source"), col("k.n_chars").as("n_chars"))
    deduped
      .filter(graft.hashBucket01(col("doc_id")) < CurationSampleRate)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("kept_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy("lang", "source")
  }
  val q59Sql: String =
    s"""WITH quality AS (
       |  SELECT * FROM documents
       |  WHERE len(string_split(text, ' ')) >= $QualityMinTokens
       |    AND CAST(len(list_filter(string_split(text, ' '),
       |          t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
       |        / CAST(len(string_split(text, ' ')) AS DOUBLE)
       |        >= $QualityMinStopwordRatio),
       |deduped AS (
       |  SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
       |sampled AS (
       |  SELECT q.* FROM deduped d JOIN quality q USING (doc_id)
       |  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      / 4294967295.0 < $CurationSampleRate)
       |SELECT lang, source, count(*) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS kept_chars,
       |  min(doc_id) AS min_doc
       |FROM sampled GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------------------
  // q60 — repetition quality filter (the Gopher-rule family, Rae et al.
  // 2021 §A1.1: documents dominated by a repeated n-gram are boilerplate /
  // spam and get dropped before training):
  //   - top2_share: fraction of the document's 2-gram slots occupied by
  //     its single most common 2-gram (Gopher bars this at 0.20);
  //   - dup3_frac: fraction of 3-gram occurrences that are repeats of an
  //     earlier 3-gram (Gopher's duplicate-n-gram family);
  //   - flagged: either bar exceeded.
  // Scale shape: dup3_frac is a PURE ARRAY expression (distinct/size — no
  // shuffle); the 2-gram mode genuinely needs a count per (doc, gram), so
  // only (doc_id, 8-byte hashed gram) rows shuffle — hashing the gram
  // instead of shuffling gram STRINGS is the same injective-hash trick as
  // q47 (counts are unchanged; the mode's identity is never output).
  val TopNgramShareMax = 0.20 // Gopher 2-gram bar
  val DupNgramFracMax = 0.30
  val q60RepetitionFilter: Q = (s, d) => {
    // n-gram hashes via the native fused `text_shingle_hashes` (r17): the
    // r16 form built 3-grams with a `transform` lambda over zipped slices
    // — a higher-order function, which Catalyst evaluates INTERPRETED per
    // element (the CodegenFallback trap the r15 text_stats fix documented)
    // — and materialized a 2-gram struct array to hash after an explode.
    // The native expression hashes each n-token byte span in place with
    // the same XxHash64Function the scalar xxhash64(concat_ws(" ", ...))
    // computed (the TokenSpans structural identity, spec-pinned), so
    // every downstream count is bit-identical. A document of n tokens has
    // n - 1 2-gram hashes and none below 2 tokens, so `g2` gives the token
    // count, and the inner join with `top2` (built from g2's elements)
    // keeps exactly the n >= 2 documents, with no `split`. (An explicit
    // filter on size(g2) would be pushed below the select and walk each
    // document once more.)
    val g = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextShingleHashes.text_shingle_hashes("text", 2)
          .as("g2"),
        graft.functions.TextShingleHashes.text_shingle_hashes("text", 3)
          .as("g3"))
    val dup3 = when(size(col("g3")) > 0,
      round(lit(1.0) - size(array_distinct(col("g3"))).cast("double")
        / size(col("g3")).cast("double"), 6)).otherwise(0.0)
    val top2 = g.select(col("doc_id"), explode(col("g2")).as("h"))
      .groupBy("doc_id", "h").count()
      .groupBy("doc_id").agg(max("count").as("top2"))
    g.select(col("doc_id"), (size(col("g2")) + 1).as("n_tokens"), dup3.as("dup3_frac"))
      .join(top2, "doc_id")
      .withColumn("top2_share",
        round(col("top2").cast("double") / (col("n_tokens") - 1).cast("double"), 6))
      .withColumn("flagged",
        col("top2_share") > TopNgramShareMax || col("dup3_frac") > DupNgramFracMax)
      .select("doc_id", "n_tokens", "top2_share", "dup3_frac", "flagged")
      .orderBy("doc_id")
  }
  val q60Sql: String =
    s"""WITH toked AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |g2 AS (
       |  SELECT doc_id, unnest(list_transform(range(len(t) - 1),
       |    i -> t[i+1] || ' ' || t[i+2])) AS g
       |  FROM toked),
       |top2 AS (
       |  SELECT doc_id, max(c) AS top2
       |  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
       |  GROUP BY doc_id),
       |d3 AS (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    CASE WHEN len(t) >= 3 THEN list_transform(range(len(t) - 2),
       |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
       |    ELSE [] END AS g3
       |  FROM toked)
       |SELECT d3.doc_id, n_tokens,
       |  round(CAST(top2 AS DOUBLE) / (n_tokens - 1), 6) AS top2_share,
       |  CASE WHEN len(g3) > 0
       |    THEN round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
       |    ELSE 0.0 END AS dup3_frac,
       |  (round(CAST(top2 AS DOUBLE) / (n_tokens - 1), 6) > $TopNgramShareMax
       |   OR CASE WHEN len(g3) > 0
       |     THEN round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
       |     ELSE 0.0 END > $DupNgramFracMax) AS flagged
       |FROM d3 JOIN top2 ON d3.doc_id = top2.doc_id
       |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // q61 — cross-source shared-boilerplate matrix: fingerprint every doc by
  // its opening 8 tokens (the template/boilerplate signal — mirrored feeds
  // and scraped templates share openings long before they share full
  // texts), then for every source pair count the distinct fingerprints
  // appearing in BOTH (off-diagonal) or at least twice within one source
  // (diagonal) — the provenance report a corpus build runs to decide which
  // source to keep a duplicate from. Full-text md5 is the stricter key but
  // vacuous on this corpus (exact cross-source copies are rare by
  // construction); the prefix fingerprint is the same relational shape at
  // any key. Scale shape: documents collapse to (md5(prefix), source,
  // count) FIRST — one groupBy of 16-byte keys — and the pair join runs on
  // that tiny digest relation, never on documents. The split carries
  // limit = prefix+1 so the scan allocates 9 strings per doc, not one per
  // token: the first `limit - 1` elements of a limited split are identical
  // to the unlimited ones (the remainder lands in the last element, which
  // the slice drops), and fingerprinting must not pay O(doc tokens).
  val BoilerplatePrefixTokens = 8
  val q61SourceDupMatrix: Q = (s, d) => {
    val prefixToks = split(col("text"), " ", BoilerplatePrefixTokens + 1)
    val h = Tables.documents(s, d)
      .groupBy(
        md5(array_join(slice(prefixToks, 1, BoilerplatePrefixTokens), " ")).as("h"),
        col("source"))
      .agg(count(lit(1)).as("c"))
    val a = h.select(col("h"), col("source").as("source_a"), col("c").as("ca"))
    val b = h.select(col("h"), col("source").as("source_b"))
    a.join(b, Seq("h"))
      .filter(col("source_a") < col("source_b") ||
        (col("source_a") === col("source_b") && col("ca") >= 2))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_texts"))
      .orderBy("source_a", "source_b")
  }
  val q61Sql: String =
    s"""WITH h AS (
       |  SELECT md5(list_aggregate(
       |      (string_split(text, ' '))[1:$BoilerplatePrefixTokens],
       |      'string_agg', ' ')) AS h,
       |    source, count(*) AS c
       |  FROM documents GROUP BY 1, 2)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  count(*) AS n_shared_texts
       |FROM h a JOIN h b ON a.h = b.h
       |WHERE a.source < b.source OR (a.source = b.source AND a.c >= 2)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------------
  // q62 — temperature-based source mixing (the data-mixing step of every
  // multi-source training corpus — upweight small high-quality sources,
  // damp the giant crawl: sampling weight ∝ tokens^α, α < 1): per source,
  // document/token mass, the normalized mixing weight, and the document
  // budget it buys at a fixed total. Deterministic floor for the budget
  // split (no largest-remainder tie politics in the oracle compare).
  // Scale shape: one map-side-combinable groupBy to #sources rows; the
  // normalization is over that tiny relation.
  //
  // Both engines compute pow/sum in their own operand order, so the two
  // doubles can differ by ulps; a floor()/round() boundary sitting exactly
  // on the true value (ratio 1.0 for a single source, simple rational
  // coincidences) would then flip by 1 between engines — the q54 drift
  // class. MixEps (identical in the Spark plan and the generated SQL)
  // moves each discontinuity off those natural attractors to an artificial
  // point no true value lands on, so ulp-level drift can't straddle it.
  val MixAlpha = 0.5
  val MixDocBudget = 10000L
  val MixEps = 1e-9
  val q62SourceMixing: Q = (s, d) => {
    val bySource = Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks)).as("n_tokens"))
    val r0 = bySource.agg(
      sum(pow(col("n_tokens").cast("double"), MixAlpha))).head()
    // sum over zero rows is NULL — an empty corpus (fresh store, empty
    // partition slice) must degrade to an empty report, not a driver NPE
    // (EmptyTablesSpec; the oracle's by_source is empty there too)
    val total = if (r0.isNullAt(0)) 1.0 else r0.getDouble(0)
    bySource
      .withColumn("weight",
        round(pow(col("n_tokens").cast("double"), MixAlpha) / total + MixEps, 6))
      .withColumn("doc_budget",
        floor(pow(col("n_tokens").cast("double"), MixAlpha) / total * MixDocBudget
          + lit(MixEps * MixDocBudget)).cast("long"))
      .select("source", "n_docs", "n_tokens", "weight", "doc_budget")
      .orderBy("source")
  }
  val q62Sql: String =
    s"""WITH by_source AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT sum(pow(n_tokens, $MixAlpha)) AS t FROM by_source)
       |SELECT source, n_docs, n_tokens,
       |  round(pow(n_tokens, $MixAlpha) / t + $MixEps, 6) AS weight,
       |  CAST(floor(pow(n_tokens, $MixAlpha) / t * $MixDocBudget
       |    + ${MixEps * MixDocBudget}) AS BIGINT) AS doc_budget
       |FROM by_source, tot ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------------
  // q64 — scalable global index assignment (the distributed zipWithIndex
  // every corpus build needs: contiguous 0-based example ids for shard
  // files, sample bookkeeping, and resumable iteration). The naive form is
  // row_number() over one global ordered window — the whole corpus through
  // a single task. The scale shape is the classic two-phase plan:
  //   1. shard by contiguous doc_id range (shard width from the catalog
  //      row count so #shards stays <= IndexTargetShards no matter how the
  //      corpus grows — NOT a fixed width, which at 100 TB either explodes
  //      the shard table or degenerates to one shard);
  //   2. per-shard counts (a groupBy of 8-byte keys — the only full
  //      shuffle is (shard, 1) pre-aggregated map-side);
  //   3. exclusive prefix-sum of counts over the TINY shard relation
  //      (<= IndexTargetShards rows through the one single-partition
  //      window — bounded by construction, unlike the naive plan);
  //   4. broadcast offsets back; global_index = shard offset + the
  //      shard-local row_number (partitioned window, parallel).
  // Because shards are contiguous doc_id ranges, the result equals the
  // naive global row_number exactly — the oracle IS the naive form.
  val IndexTargetShards = 1024L
  val q64GlobalIndex: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
    val n = Tables.rowCount(s, d, "documents")
    val k = math.max(1L, math.ceil(n.toDouble / IndexTargetShards).toLong)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), expr(s"doc_id div $k").as("shard"))
    val counts = docs.groupBy("shard").agg(count(lit(1)).as("c"))
    // the prefix sum DELIBERATELY runs on one partition — its input is the
    // <= IndexTargetShards-row counts relation, bounded by construction.
    // The constant partition key states that intent and keeps the generic
    // "no partition defined" WARN out of logs, where it would read as the
    // corpus-sized funnel it is not. pmod(shard, 1), not lit(0): Catalyst
    // strips foldable partition keys, so a literal is warned away.
    val offsets = counts
      .withColumn("off", coalesce(
        sum(col("c")).over(w.partitionBy(pmod(col("shard"), lit(1L)))
          .orderBy("shard").rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
      .select("shard", "off")
    docs.join(broadcast(offsets), "shard")
      .withColumn("global_index", col("off") +
        row_number().over(w.partitionBy("shard").orderBy("doc_id")) - 1)
      .select("doc_id", "shard", "global_index")
      .orderBy("doc_id")
  }
  val q64Sql: String =
    s"""WITH params AS (
       |  SELECT greatest(1, CAST(ceil(count(*) / $IndexTargetShards.0) AS BIGINT)) AS k
       |  FROM documents)
       |SELECT doc_id, doc_id // (SELECT k FROM params) AS shard,
       |  row_number() OVER (ORDER BY doc_id) - 1 AS global_index
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q65 — TF-IDF top terms per document (keyword extraction — the salience
  // signal corpus curation uses for topic balancing and index building):
  // term frequency per (doc, token), document frequency over the corpus,
  // score = tf * ln(N / df), top-3 per doc. Scores are rounded to 6dp
  // BEFORE ranking (the q40 convention) so both engines cut identically;
  // ties break on token ASC. N comes from the parquet footer
  // (Tables.rowCount) — the catalog statistic, not a count() action.
  // Scale shape: the (doc_id, token) shuffle is inherent to tf; df is a
  // vocabulary-sized relation joined on token (map-side combinable both
  // times). ln() is libm on both engines — a 1-ulp divergence landing
  // exactly on a 5e-7 rounding boundary is the accepted q51-class risk.
  val TfIdfTopK = 3
  val q65TfIdf: Q = (s, d) => {
    val n = Tables.rowCount(s, d, "documents")
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // df counts tf's ROWS, so a plain count(1) lets column pruning drop
    // the tf value from this branch — its partial aggregate then differs
    // from the join branch's and ReuseExchange cannot fire, re-running
    // the whole scan + explode + partial-count (r18 plan audit: two
    // parquet scans). The conditional count is the SAME number (tf =
    // count(1) is always >= 1) but Catalyst cannot prove the predicate,
    // so the tf column survives pruning and both branches' (doc_id,
    // token) exchanges stay bit-identical — the corpus-side subplan is
    // computed ONCE and the df branch reads the reused exchange (guide
    // §2.4 "share one exchange"; no barrier, no persist). A bare
    // count(tf) does NOT work: the optimizer rewrites count(non-null
    // agg) back to count(1) and prunes.
    val df = tf.groupBy("token")
      .agg(count(when(col("tf") >= 1, lit(1))).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), asc("token"))
    tf.join(df, "token")
      .withColumn("score",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfIdfTopK)
      .select("doc_id", "rank", "token", "score")
      .orderBy("doc_id", "rank")
  }
  val q65Sql: String =
    s"""WITH tfc AS (
       |  SELECT doc_id, token, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |        FROM documents)
       |  GROUP BY doc_id, token),
       |dfc AS (SELECT token, count(*) AS df FROM tfc GROUP BY token),
       |tot AS (SELECT count(*) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, token,
       |    round(tf * ln(CAST((SELECT n FROM tot) AS DOUBLE) / df), 6) AS score
       |  FROM tfc JOIN dfc USING (token)),
       |ranked AS (
       |  SELECT doc_id, token, score,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, token ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, token, score FROM ranked WHERE rank <= $TfIdfTopK
       |ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------------------
  // q66 — per-source token-distribution KL divergence vs the corpus (the
  // data-mixing diagnostic behind q62's weights: a source whose unigram
  // distribution sits far from the corpus mean is distinctive — upweight
  // or quarantine — while KL ~ 0 means redundant mass):
  //   KL(source || corpus) = sum_t p_st * ln(p_st / p_t).
  // Numerical determinism: a SUM of doubles is order-dependent, and Spark
  // partial aggregation makes the order nondeterministic run-to-run — the
  // one aggregate shape that can never hash-match an oracle. Each term is
  // therefore rounded to 12dp and summed as DECIMAL(28,12): integer-scaled
  // addition is exact and order-free, so both engines produce the same sum
  // no matter how they parallelize. The final report rounds to 6dp.
  val q66SourceKl: Q = (s, d) => {
    val st = Tables.documents(s, d)
      .select(col("source"), explode(toks).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val sTot = st.groupBy("source")
      .agg(sum("c").as("s_total"), count(lit(1)).as("vocab"))
    val tTot = st.groupBy("token").agg(sum("c").as("t_c"))
    val totalDf = sTot.agg(sum(col("s_total")).as("total"))
    val pSt = col("c").cast("double") / col("s_total").cast("double")
    val pT = col("t_c").cast("double") / col("total").cast("double")
    st.join(broadcast(sTot), "source")
      .join(tTot, "token")
      .crossJoin(broadcast(totalDf))
      .select(col("source"), col("s_total"), col("vocab"),
        round(pSt * log(pSt / pT), 12).cast("decimal(28,12)").as("term"))
      .groupBy("source", "s_total", "vocab")
      .agg(sum(col("term")).as("klsum"))
      .select(col("source"), col("s_total").as("n_tokens"), col("vocab"),
        round(col("klsum").cast("double"), 6).as("kl_divergence"))
      .orderBy("source")
  }
  val q66Sql: String =
    """WITH stc AS (
      |  SELECT source, token, count(*) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
      |        FROM documents)
      |  GROUP BY source, token),
      |s_tot AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS s_total, count(*) AS vocab
      |  FROM stc GROUP BY source),
      |t_tot AS (SELECT token, CAST(sum(c) AS BIGINT) AS t_c FROM stc GROUP BY token),
      |tot AS (SELECT CAST(sum(s_total) AS BIGINT) AS total FROM s_tot),
      |terms AS (
      |  SELECT stc.source, s_total, vocab,
      |    CAST(round(
      |      (CAST(c AS DOUBLE) / s_total)
      |        * ln((CAST(c AS DOUBLE) / s_total)
      |            / (CAST(t_c AS DOUBLE) / (SELECT total FROM tot))),
      |      12) AS DECIMAL(28,12)) AS term
      |  FROM stc JOIN s_tot USING (source) JOIN t_tot USING (token))
      |SELECT source, s_total AS n_tokens, vocab,
      |  round(CAST(sum(term) AS DOUBLE), 6) AS kl_divergence
      |FROM terms GROUP BY source, s_total, vocab ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------------
  // q80 — LM perplexity filter (CCNet, Wenzek et al. 2020 §4.3; the same
  // signal FineWeb/RedPajama filter on): score every document by a bigram
  // language model trained on the TARGET domain (lexicographically first
  // source — the q79 deterministic stand-in for "Wikipedia"), then bucket
  // the corpus into CCNet's head/middle/tail by the 33rd/66th score
  // percentiles. Model: Laplace-smoothed bigram,
  //   P(cur|prev) = (c(prev,cur) + 1) / (c(prev,·) + V),
  // V = distinct token types in the target; score = mean negative log-prob
  // over a doc's transitions (the log-perplexity), plus the unseen-bigram
  // fraction (oov_rate).
  // Shape at 100 TB:
  //   - transitions never leave their document: the native
  //     `bigram_hash_counts` expression emits each doc's distinct
  //     (hash64(prev), hash64(bigram), cnt) rows scan-side — no corpus
  //     shuffle exists before the per-doc score sum, which collapses
  //     map-side to ~1 row per doc;
  //   - the LM is a vocab-bounded relation (distinct target bigrams — far
  //     smaller than the corpus; ~10^7-10^8 rows even web-scale), joined
  //     as a BROADCAST so the scoring join never shuffles the corpus; if a
  //     target domain ever outgrew broadcast, the same plan shuffle-joins
  //     on the 8-byte hashed bigram;
  //   - the percentile pass runs over one row per document (the scores
  //     relation), and the two cut points broadcast back as a single row.
  // Determinism: per-(doc,bigram) terms are rounded to 12dp and summed as
  // DECIMAL(28,12) (the q66/q79 convention); avg_nll is then one exact
  // decimal→double cast and one IEEE division, identical in both engines;
  // bucket compares 6dp-rounded scores against 6dp-rounded percentiles so
  // interpolation ulp differences cannot flip a bucket.
  //
  // Constant factor (r16 verdict #1, the perf_weak family's worst cell —
  // 6.2× DuckDB at sf0.1): the transition builder WAS
  // `transform(sequence(...), i -> struct(element_at...))` — a
  // CodegenFallback HOF chain evaluated interpreted per transition (the
  // ArrayExists.eval trap the r15 text_stats fix documented) — feeding a
  // corpus-sized (doc, prev, cur) groupBy exchange keyed on token
  // STRINGS. Now the whole per-doc half is ONE native expression
  // (`bigram_hash_counts`: hb = hash64("prev cur"), hp = hash64(prev),
  // distinct-with-multiplicity per doc), and all model keys are
  // codegen'd hash64 longs. Keying on hashes is the q47/q78
  // injective-hash trick (tokens cannot contain the join space, so the
  // bigram string is unambiguous); the oracle keeps grouping by the
  // strings themselves, so the check stays hash-independent — a hash64
  // collision between distinct bigrams/tokens of one corpus (~2^-64
  // birthday) is the accepted q78 divergence class.
  /** The scoring relation (one row per doc) pre-checkpoint — factored out
    * so PlanSpec can assert the model joins broadcast (the checkpoint in
    * q80LmPerplexity truncates lineage, hiding them from the final plan).
    */
  private[graft] def q80Scores(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.Hash64.{hash64 => h64}
    val docs = Tables.documents(s, d)
    // per-doc distinct transition counts, fused scan-side (native
    // bigram_hash_counts): the (doc, hp, hb, cnt) grain the 12-dp
    // rounding requires is produced WITHOUT pushing a near-token-count
    // relation through an exchange + checkpoint (r17 decomposition probe:
    // that stage was ~half of q80's 10× wall). A 1-token doc yields an
    // empty array and is dropped by the explode — same population as the
    // old size >= 2 filter. Checkpointed: feeds the model AND the scoring
    // side; compact struct rows, far smaller than the text they replace.
    // `hl` = hash64(last token): a doc's distinct tokens are exactly
    // {prev of some transition} ∪ {last token} (every token except the
    // last IS a prev; a duplicate transition has the same prev string),
    // so the vocab count folds into the model collect below and the old
    // separate corpus-scan voc job is gone. LAZY checkpoint: the first
    // consumer (the tgt aggregate) materializes it — an eager barrier
    // here was a whole extra job at the per-query floor.
    val counts = docs.select(col("doc_id"), col("source"),
        graft.functions.BigramHashCounts.bigram_hash_counts("text").as("bgc"),
        h64(substring_index(col("text"), " ", -1)).as("hl"))
      .localCheckpoint(eager = false)
    // target source: a bounded driver action (1 row — the q62/q86 class),
    // read off the checkpointed counts (never a second parquet scan)
    val tgtRow = counts.agg(min(col("source")).as("tgt")).head
    val tgt = if (tgtRow.isNullAt(0)) null else tgtRow.getString(0)
    // the model is vocab-bounded (distinct TARGET bigrams / prevs — the
    // broadcast argument in the header): ONE collect of the target
    // slice's per-doc transition arrays moves exactly the bytes the old
    // broadcast-join exchanges moved, and both model maps (cb by hb, cu
    // by hp) fold out of it in one driver pass — where the relational
    // form ran two explode + groupBy + collect jobs over the same data.
    // BigramScore then probes them per doc with no per-transition row
    // ever materialized (parity argued and spec-pinned there).
    val cbAcc = new java.util.HashMap[Long, Long]()
    val cuAcc = new java.util.HashMap[Long, Long]()
    val vocab = new java.util.HashSet[Long]()
    counts.filter(col("source") === lit(tgt)).select(col("bgc"), col("hl"))
      .collect().foreach { r =>
        if (!r.isNullAt(0)) r.getSeq[org.apache.spark.sql.Row](0).foreach { e =>
          val hp = e.getLong(0); val hb = e.getLong(1); val cnt = e.getLong(2)
          cbAcc.merge(hb, cnt, (a, x) => a + x)
          cuAcc.merge(hp, cnt, (a, x) => a + x)
          vocab.add(hp)
        }
        // the last token — 1-token docs included; null text contributes
        // no tokens (matching the old explode-over-split voc)
        if (!r.isNullAt(1)) vocab.add(r.getLong(1))
      }
    def toPairs(m: java.util.HashMap[Long, Long]): Array[(Long, Long)] = {
      val out = new Array[(Long, Long)](m.size)
      var i = 0
      val it = m.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); out(i) = (e.getKey, e.getValue); i += 1 }
      out
    }
    val cbM = graft.functions.BigramScore.broadcastModel(s, toPairs(cbAcc))
    val cuM = graft.functions.BigramScore.broadcastModel(s, toPairs(cuAcc))
    // v ≡ countDistinct(hash64(tok)) over target docs (the set identity
    // argued at `hl`); the dedicated corpus-scan job it replaces was one
    // of the per-query floor's six jobs
    val v = vocab.size.toLong
    counts
      .filter(size(col("bgc")) > 0) // the explode dropped transition-free docs
      .select(col("doc_id"), col("source"),
        graft.functions.BigramScore
          .bigram_score(col("bgc"), cbM, cuM, v).as("sc"))
      .select(col("doc_id"), col("source"),
        round(-col("sc.slp") / col("sc.tn").cast("double"), 6)
          .as("avg_nll"),
        round(col("sc.noov").cast("double") / col("sc.tn").cast("double"), 6)
          .as("oov_rate"))
  }

  val q80LmPerplexity: Q = (s, d) => {
    // one row per doc, referenced twice (cut points + final output) — NOT
    // checkpointed (r17): with the fused per-doc scorer the relation is a
    // narrow projection over the ALREADY-checkpointed transition counts,
    // so recomputing it for the percentile subquery is cheaper than an
    // eager materialization job (the q79 sort-barrier reasoning; the
    // heavy inputs behind it are checkpointed inside q80Scores)
    val scores = q80Scores(s, d)
    val cuts = scores.agg(
      round(expr("percentile(avg_nll, 0.33)"), 6).as("p33"),
      round(expr("percentile(avg_nll, 0.66)"), 6).as("p66"))
    scores.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("source"), col("avg_nll"), col("oov_rate"),
        when(col("avg_nll") <= col("p33"), "head")
          .when(col("avg_nll") <= col("p66"), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }
  val q80Sql: String =
    """WITH toked AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |tgt AS (SELECT min(source) AS tgt FROM documents),
      |trans AS (
      |  SELECT doc_id, source, t[i+1] AS prev, t[i+2] AS cur
      |  FROM (SELECT doc_id, source, t, unnest(range(len(t) - 1)) AS i
      |        FROM toked WHERE len(t) >= 2)),
      |tcnt AS (
      |  SELECT doc_id, source, prev, cur, count(*) AS cnt
      |  FROM trans GROUP BY 1, 2, 3, 4),
      |ttr AS (SELECT * FROM tcnt WHERE source = (SELECT tgt FROM tgt)),
      |cb AS (SELECT prev, cur, sum(cnt) AS cb FROM ttr GROUP BY 1, 2),
      |cu AS (SELECT prev, sum(cnt) AS cu FROM ttr GROUP BY 1),
      |voc AS (
      |  SELECT count(DISTINCT tok) AS v
      |  FROM (SELECT unnest(t) AS tok FROM toked
      |        WHERE source = (SELECT tgt FROM tgt))),
      |terms AS (
      |  SELECT c.doc_id, c.source, c.cnt,
      |    CAST(round(c.cnt * ln(
      |      CAST(coalesce(cb.cb, 0) + 1 AS DOUBLE)
      |        / CAST(coalesce(cu.cu, 0) + v AS DOUBLE)), 12)
      |      AS DECIMAL(28,12)) AS term,
      |    CASE WHEN cb.cb IS NULL THEN c.cnt ELSE 0 END AS oov
      |  FROM tcnt c
      |  LEFT JOIN cb ON c.prev = cb.prev AND c.cur = cb.cur
      |  LEFT JOIN cu ON c.prev = cu.prev
      |  CROSS JOIN voc),
      |scores AS (
      |  SELECT doc_id, source,
      |    round(-CAST(sum(term) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6)
      |      AS avg_nll,
      |    round(CAST(sum(oov) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6)
      |      AS oov_rate
      |  FROM terms GROUP BY 1, 2),
      |cuts AS (
      |  SELECT round(quantile_cont(avg_nll, 0.33), 6) AS p33,
      |         round(quantile_cont(avg_nll, 0.66), 6) AS p66
      |  FROM scores)
      |SELECT doc_id, source, avg_nll, oov_rate,
      |  CASE WHEN avg_nll <= p33 THEN 'head'
      |       WHEN avg_nll <= p66 THEN 'middle'
      |       ELSE 'tail' END AS ppl_bucket
      |FROM scores CROSS JOIN cuts ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q81 — winnowing fingerprint OVERLAP (Schleimer, Wilkerson & Aiken,
  // SIGMOD 2003 — the MOSS detection step). q48 computes each doc's
  // winnowing fingerprint PROFILE (per-window min, per-doc stats); q81 is
  // the other half of the paper: the cross-document join that actually
  // finds copies. Each doc's k-gram (k=4 tokens) hashes slide under a w=4
  // window; every window contributes its RIGHTMOST MINIMAL hash (the
  // paper's robust winnowing rule — q48 keeps plain window-mins, which
  // over-select under ties), giving ~2/(w+1) density with the guarantee
  // that any shared run of >= w+k-1 tokens yields at least one shared
  // fingerprint. Docs sharing >= 2 surviving fingerprints are reported
  // with their overlap count — the plagiarism/near-dup detection join.
  // Hash = 32-bit md5 prefix (the q18/q79 portable idiom): winnowing
  // SELECTS BY HASH VALUE, so unlike q78 the oracle must compute the
  // identical hash — a hash-independent oracle is impossible by design,
  // and md5-prefix keeps the generated SQL chain out of it.
  // Shape at 100 TB:
  //   - fingerprint SELECTION is a per-document narrow pipeline: native
  //     k-gram shingles -> per-gram h32 -> native sliding_min (one
  //     monotonic-deque pass) -> array_distinct -> explode. No window
  //     membership explode, no aggregation, NO SHUFFLE before the
  //     boilerplate count — only selected fingerprints (~2/(w+1) of
  //     positions, 12 bytes each) ever leave the scan stage. The oracle
  //     keeps the paper's rightmost-minimal rule; the overlap join
  //     consumes fingerprint VALUES (distinct per doc), and a window's
  //     selected value IS its minimum whatever position the tie-break
  //     picks, so plain window-mins give the identical distinct set;
  //   - fingerprints appearing in > WinnowDocCap docs are boilerplate
  //     (the paper §5 drops them too) — killing them bounds the self-join
  //     bucket fan-out exactly like q43/q63's band caps;
  //   - the overlap join buckets on the 8-byte hash; per-pair counts are
  //     map-side combinable.
  val WinnowK = 4
  val WinnowW = 4
  val WinnowDocCap = 50
  val WinnowMinShared = 2
  /** Per-doc distinct winnowing fingerprints pre-checkpoint — factored out
    * so PlanSpec can assert the selection pipeline's shape (shuffle-free
    * narrow pipeline, no cartesian anywhere). Value-set equivalence to
    * the robust (rightmost-minimal) rule argued in the q81 header.
    */
  private[graft] def winnowFingerprints(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val k = WinnowK
    val w = WinnowW
    // fused shingle+md5-prefix hashes (r17): the r16 shape still ran a
    // `transform(sh, md5_prefix32)` lambda — interpreted HOF dispatch per
    // gram — over native k-gram strings that only existed to be hashed;
    // the fused expression hashes each span in place with the same
    // Md5Prefix32 kernel (bit-identical values).
    // m >= w shingles <=> len(tokens) >= k+w-1 (n-(k-1) grams for n >= k,
    // none below)
    Tables.documents(s, d)
      .withColumn("hs", graft.functions.TextShingleHashes
        .text_shingle_md5p32s("text", k))
      .filter(size(col("hs")) >= w)
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.SlidingMin.sliding_min("hs", w))).as("h"))
  }

  val q81WinnowOverlap: Q = (s, d) => {
    // fingerprints are referenced four times (boilerplate count, the
    // anti-join, both sides of the overlap self-join) — checkpoint so the
    // winnowing pipeline runs once; rows are (doc_id, h), ~2/(w+1) of
    // gram positions at 16 bytes
    val fp = winnowFingerprints(s, d).localCheckpoint()
    val boiler = fp.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > WinnowDocCap)
    val kept = fp.join(boiler.select("h"), Seq("h"), "left_anti")
      .localCheckpoint()
    kept.select(col("h"), col("doc_id").as("doc_a"))
      .join(kept.select(col("h"), col("doc_id").as("doc_b")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy("doc_a", "doc_b")
  }
  val q81Sql: String = {
    val k = WinnowK
    val w = WinnowW
    s"""WITH toked AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= ${k + w - 1}),
       |g AS (
       |  SELECT doc_id, len(t) - ${k - 1} AS m, i + 1 AS g,
       |    CAST(('0x' || substring(md5(
       |      list_aggregate(t[i+1:i+$k], 'string_agg', ' ')), 1, 8))
       |      AS BIGINT) AS h
       |  FROM (SELECT doc_id, t, unnest(range(len(t) - ${k - 1})) AS i
       |        FROM toked)),
       |mem AS (
       |  SELECT doc_id, g, h,
       |    unnest(range(greatest(1, g - ${w - 1}),
       |                 least(g, m - ${w - 1}) + 1)) AS j
       |  FROM g),
       |minh AS (SELECT doc_id, j, min(h) AS mh FROM mem GROUP BY 1, 2),
       |selg AS (
       |  SELECT m.doc_id, m.j, max(m.g) AS g
       |  FROM mem m JOIN minh USING (doc_id, j)
       |  WHERE m.h = mh GROUP BY 1, 2),
       |fp0 AS (
       |  SELECT DISTINCT s.doc_id, gr.h
       |  FROM selg s JOIN g gr ON s.doc_id = gr.doc_id AND s.g = gr.g),
       |boiler AS (SELECT h FROM fp0 GROUP BY h HAVING count(*) > $WinnowDocCap),
       |fp AS (SELECT * FROM fp0 ANTI JOIN boiler USING (h))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q80_lm_perplexity" -> q80LmPerplexity,
    "q81_winnow_overlap" -> q81WinnowOverlap,
    "q82_dsir_sample" -> q82DsirSample,
    "q64_global_index" -> q64GlobalIndex,
    "q65_tfidf_topk" -> q65TfIdf,
    "q66_source_kl" -> q66SourceKl,
    "q59_curation_pipeline" -> q59CurationPipeline,
    "q60_repetition_filter" -> q60RepetitionFilter,
    "q61_source_dup_matrix" -> q61SourceDupMatrix,
    "q62_source_mixing" -> q62SourceMixing,
    "q57_sequence_packing" -> q57SequencePacking,
    "q58_decontamination" -> q58Decontamination,
    "q86_bloom_decontamination" -> q86BloomDecontamination,
    "q78_dup_spans" -> q78DupSpans,
    "q79_dsir_weights" -> q79DsirWeights,
    "q32_token_count" -> q32TokenCount,
    "q33_text_quality" -> q33Quality,
    "q34_lang_stats" -> q34LangStats,
    "q35_exact_dedup" -> q35ExactDedup,
    "q36_shingles" -> q36Shingles,
    "q37_lang_id" -> q37LangId)

  val oracles: Map[String, String] = Map(
    "q80_lm_perplexity" -> q80Sql,
    "q81_winnow_overlap" -> q81Sql,
    "q82_dsir_sample" -> q82Sql,
    "q64_global_index" -> q64Sql,
    "q65_tfidf_topk" -> q65Sql,
    "q66_source_kl" -> q66Sql,
    "q59_curation_pipeline" -> q59Sql,
    "q60_repetition_filter" -> q60Sql,
    "q61_source_dup_matrix" -> q61Sql,
    "q62_source_mixing" -> q62Sql,
    "q57_sequence_packing" -> q57Sql,
    "q58_decontamination" -> q58Sql,
    // identical output contract: the bloom path is an internal prefilter
    "q86_bloom_decontamination" -> q58Sql,
    "q78_dup_spans" -> q78Sql,
    "q79_dsir_weights" -> q79Sql,
    "q32_token_count" -> q32Sql,
    "q33_text_quality" -> q33Sql,
    "q34_lang_stats" -> q34Sql,
    "q35_exact_dedup" -> q35Sql,
    "q36_shingles" -> q36Sql,
    "q37_lang_id" -> q37Sql)
}
