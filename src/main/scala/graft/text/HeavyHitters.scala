package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Heavy-hitter mining over an unbounded key domain — the vocabulary /
  * collocation-statistics step of a tokenizer build (count all bigrams,
  * keep those above a support threshold).
  *
  * Why this needs its own shape at 100 TB: a plain
  * `groupBy(gram).count()` is correct but its shuffle carries one partial
  * row per DISTINCT gram per map task. Unigram vocabularies saturate (a
  * natural-language corpus tops out around 10^6-10^7 types, so map-side
  * combine wins), but n-gram domains do NOT saturate — distinct bigrams /
  * 8-grams grow near-linearly with the corpus, so at 100 TB the "partial
  * aggregate" shuffle is effectively the corpus itself, re-keyed.
  *
  * The classical fix is a mergeable-summary prefilter (Misra-Gries 1982 —
  * the `frequent` algorithm; merge analysis in Agarwal et al., "Mergeable
  * Summaries", PODS'12): one pass with k bounded counters per partition
  * guarantees every key with GLOBAL count > N/k survives in at least one
  * partition's summary (if every partition-local count were <= N_p/k the
  * global sum would be <= N/k). The union of the per-partition summaries —
  * at most k*P tiny rows, P = partitions — is a candidate superset; a
  * second pass exact-counts ONLY candidates, so the heavy shuffle carries
  * <= k*P keys instead of the distinct-gram domain. Cost: two corpus
  * scans. Trade: scan bandwidth is the cheap resource at 100 TB (parquet,
  * column-pruned to `text`), shuffle+spill of a corpus-sized aggregation
  * state is the expensive one.
  *
  * The MG pass is genuine per-partition imperative logic (bounded-counter
  * eviction over a stream) — exactly the `mapPartitions` carve-out; there
  * is no Catalyst aggregate with a bounded-state frequent-items contract.
  * (`df.stat.freqItems` exists but is single-column approximate WITHOUT
  * the superset guarantee on merge — its known issue is false NEGATIVES
  * under skewed partition merges, which would void the oracle.)
  *
  * Correctness does not depend on MG tuning: the final output is defined
  * purely as "grams with exact count > total/k" and the DuckDB oracle
  * computes exactly that with no knowledge of the prefilter; a missed
  * candidate (MG bug) would surface as a missing output row and fail the
  * hash gate. HeavyHittersSpec additionally property-checks the superset
  * guarantee on adversarial random streams.
  *
  * Reference scope: the reference's analytics service exposes top-token
  * frequency tables over event text (`src/services/event_store/`), always
  * at small scale; this operator is the scale path for the same report.
  */
object HeavyHitters {

  /** Bounded counters per partition. The support threshold is total/k, so
    * k picks the finest support the summary can certify: 1024 counters
    * certify every gram above ~0.1% corpus share. Memory per task is
    * O(k * mean gram length) — a few hundred KiB — independent of data.
    * (The sf corpora are near-uniform — 916 distinct bigrams, max share
    * 0.19% — so 1/1024 is the coarsest support that still yields a
    * non-empty gated output there; at a real corpus's Zipfian skew the
    * same k isolates a far smaller head.)
    */
  val MgCounters = 1024

  /** Misra-Gries `frequent` over one partition's stream. Returns the
    * surviving (gram, residual counter) pairs plus a (null, N_p) sentinel
    * carrying the partition's element count, so the caller gets candidates
    * AND the exact corpus total from the same single scan.
    */
  private[text] def misraGries(k: Int, it: Iterator[String]): Iterator[(String, Long)] = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    var np = 0L
    while (it.hasNext) {
      val g = it.next()
      np += 1
      val c = counters.getOrElse(g, 0L)
      if (c > 0L || counters.size < k) counters.update(g, c + 1L)
      else {
        // full table, new key: decrement every counter (the arriving key's
        // implicit counter hits 0 and is dropped). O(k) per eviction but
        // each decrement cancels one prior increment => O(1) amortized.
        counters.mapValuesInPlace((_, v) => v - 1L)
        counters.filterInPlace((_, v) => v > 0L)
      }
    }
    counters.iterator ++ Iterator((null: String, np))
  }

  private def toks = split(col("text"), " ")

  /** One row per corpus bigram occurrence (slim single string column —
    * the only thing either pass ever materializes per token position).
    * Docs under 2 tokens contribute nothing (TextShingles emits an empty
    * array there); multiplicity is kept — bigram COUNTS need duplicates.
    * Native expression for the same reason as q58's shingles: the
    * compositional HOF idiom ran interpreted (see TextShingles scaladoc).
    */
  private def bigrams(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).select(
      explode(graft.functions.TextShingles.text_shingles("text", 2))
        .as("gram"))

  // ---------------------------------------------------------------------------
  // q85 — heavy-hitter bigram vocabulary: every bigram with exact corpus
  // count > total/MgCounters (= total/1024), with its exact count and corpus
  // share. Pass 1 (scan 1): per-partition MG summaries + per-partition
  // totals, a <= MgCounters+1 rows/partition relation, localCheckpoint'd so
  // both consumers (the driver-side total, the candidates) read the
  // materialized summary instead of re-scanning the corpus. Pass 2
  // (scan 2): broadcast-semi-join the candidate set into the gram stream,
  // exact-count survivors only, threshold on the exact total.
  val q85HeavyHitters: Q = (s, d) => heavyHitters(s, d, MgCounters)

  /** Parameterized core (k = counters = inverse support). Public library
    * surface; the spec drives it at small k where MG eviction actually
    * triggers on tiny corpora.
    */
  def heavyHitters(s: org.apache.spark.sql.SparkSession, d: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val g = bigrams(s, d)
    val mg = g.as[String]
      .mapPartitions(it => misraGries(k, it))
      .toDF("gram", "cnt")
      .localCheckpoint() // materialize: total + candidates share one scan
    // The exact total comes back as a literal (one sentinel row per
    // partition), so the plan below is one chain of query stages. As a
    // second broadcast branch it raced the candidates' branch, and AQE
    // numbers codegen stages in the order it re-plans them: a warm run
    // recompiled the same classes under swapped stage ids (WarmPassSpec).
    val total = lit(mg.filter(col("gram").isNull).select("cnt").as[Long].collect().sum)
      .cast("double")
    val candidates = mg.filter(col("gram").isNotNull).select("gram").distinct()
    g.join(broadcast(candidates), Seq("gram"), "left_semi")
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences").cast("double") > total / k)
      .select(col("gram"), col("n_occurrences"),
        (col("n_occurrences").cast("double") / total).as("share"))
      .orderBy(desc("n_occurrences"), asc("gram"))
  }

  val q85Sql: String =
    s"""WITH toked AS (SELECT string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT unnest(list_transform(range(len(t) - 1),
       |    i -> list_aggregate(t[i+1:i+2], 'string_agg', ' '))) AS gram
       |  FROM toked),
       |tot AS (SELECT count(*) AS total FROM grams)
       |SELECT gram, count(*) AS n_occurrences,
       |  CAST(count(*) AS DOUBLE) / CAST(total AS DOUBLE) AS share
       |FROM grams, tot GROUP BY gram, total
       |HAVING CAST(count(*) AS DOUBLE) > CAST(total AS DOUBLE) / $MgCounters
       |ORDER BY n_occurrences DESC, gram""".stripMargin

  val queries: Map[String, Q] = Map(
    "q85_heavy_hitters" -> q85HeavyHitters)

  val oracles: Map[String, String] = Map(
    "q85_heavy_hitters" -> q85Sql)
}
