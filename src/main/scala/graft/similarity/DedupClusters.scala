package graft.similarity

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate CLUSTER resolution — the finisher every dedup pipeline
  * needs after pair generation: pairs only say "these two are alike";
  * keeping one copy per duplicate GROUP requires the transitive closure
  * (a~b, b~c ⇒ {a,b,c} is one cluster) and a deterministic representative.
  *
  * The reference dedups by exact key (`session_tracker.py` keep-first);
  * at pretraining scale the same decision runs over NEAR-dup pairs, so the
  * cluster step is a first-class operator here: connected components by
  * iterative min-label propagation WITH pointer jumping — each round every
  * node takes the min label among itself and its neighbors, then chases
  * one level of indirection (comp := comp(comp)), so the effective
  * propagation distance doubles per round and convergence is O(log
  * diameter), not O(diameter). Each round is two joins + one aggregation,
  * all shuffling O(|edges| + |nodes|); lineage is truncated per round
  * (localCheckpoint) so plans stay flat. The large-star/small-star
  * refinement (Kiveris et al.) drops in for adversarially deep graphs,
  * same per-round shape.
  */
object DedupClusters {

  /** Exact thresholded jaccard pairs over hashed shingles (same 64-bit
    * hashing argument as q47 — counts are collision-free in practice).
    *
    * This is THE pair-generation entry point — one path for every consumer
    * (q55 and any future caller), and that path is the PPJoin
    * prefix-filtered shape that holds at corpus scale: only each set's
    * smallest |A| − ceil(t·|A|) + 1 hashes (under the global hash order)
    * are indexed for CANDIDATE generation — by the prefix-filter lemma,
    * two sets passing the length filter with J >= t must intersect within
    * those prefixes (required overlap o = ceil(t/(1+t)·(|A|+|B|))
    * >= ceil(t·|A|) once |B| >= t·|A|). Candidates are then verified
    * EXACTLY on the full hash arrays, so the result set is identical to
    * the full-postings inverted-index join (spec-asserted against
    * [[jaccardPairsFullPostings]] on random corpora) while the posting
    * shuffle shrinks by roughly the threshold fraction — at t = 0.9 only
    * ~10% of each set is ever indexed.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    jaccardPairsPrefix(docs, threshold)

  /** Full-postings inverted-index set-similarity join — the simpler shape
    * [[jaccardPairs]] is spec-checked against; NOT a query path of its own
    * (package-private so tests can cross-verify, nothing else calls it).
    *
    * Shape: the classical inverted-index set-similarity join, NOT an
    * all-pairs nested loop — explode each doc's distinct shingle hashes,
    * self-join on the hash (only docs SHARING a shingle ever meet), count
    * co-occurrences per (id_a, id_b) — that count IS |A ∩ B| — then filter
    * on jaccard from the carried set sizes. Everything is codegen'd hash
    * joins and partial-aggregated counts; a measured BroadcastNestedLoop
    * variant spent ~8 µs/candidate evaluating interpreted array predicates
    * across O(n²) pairs, while this path touches only co-occurring pairs.
    * The length filter below already prunes mismatched sizes before the
    * count compares; the prefix-filtered default additionally shrinks the
    * indexed postings themselves.
    */
  private[similarity] def jaccardPairsFullPostings(
      docs: DataFrame, threshold: Double): DataFrame = {
    val sub = SimilarityQueries.withShingles(docs)
      .select(col("doc_id"),
        transform(col("shingles"), x => xxhash64(x)).as("sh"))
    val posts = sub.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("h"))
    val a = posts.select(col("doc_id").as("id_a"), col("n").as("n_a"), col("h"))
    val b = posts.select(col("doc_id").as("id_b"), col("n").as("n_b"), col("h"))
    val inter = a.join(b, Seq("h"))
      // length filter (PPJoin-family): J >= t forces min|.|/max|.| >= t·max
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) >=
          lit(threshold) * greatest(col("n_a"), col("n_b")))
      .groupBy("id_a", "n_a", "id_b", "n_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .filter(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double") >= threshold)
      .select("id_a", "id_b")
  }

  /** PPJoin prefix-filtered implementation behind [[jaccardPairs]] (see
    * the lemma and verification argument there).
    */
  private def jaccardPairsPrefix(docs: DataFrame, threshold: Double): DataFrame = {
    // hashed shingle sets via the fused native expression (r17): the r16
    // form ran `transform(shingles, xxhash64)` — a higher-order function,
    // interpreted per element — over string shingles that only existed to
    // be hashed. text_shingle_hashes emits the same XXH64 longs (the
    // TokenSpans structural identity, spec-pinned) in one codegen'd
    // pass; distinct-then-hash ≡ hash-then-distinct under the family's
    // injective-hash argument.
    val sub = docs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        array_sort(array_distinct(graft.functions.TextShingleHashes
          .text_shingle_hashes("text", 3))).as("sh"))
    val n = size(col("sh"))
    val prefixLen = (n - ceil(lit(threshold) * n) + 1).cast("int")
    val prefixPosts = sub
      .select(col("doc_id"), col("sh"),
        explode(slice(col("sh"), lit(1), prefixLen)).as("h"))
    val a = prefixPosts.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("h"))
    val b = prefixPosts.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("h"))
    val la = size(col("sh_a"))
    val lb = size(col("sh_b"))
    val candidates = a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b") &&
        least(la, lb) >= lit(threshold) * greatest(la, lb))
      .select("id_a", "sh_a", "id_b", "sh_b")
      .dropDuplicates("id_a", "id_b")
    // exact verification on the (rare) candidates only
    candidates
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .filter(col("inter").cast("double") /
        (la + lb - col("inter")).cast("double") >= threshold)
      .select("id_a", "id_b")
  }

  /** Connected components over (nodes(id), edges(src, dst)): returns
    * (id, component) with component = min node id reachable. Deterministic.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // LAZY checkpoints (r17 job-floor cut): both barriers materialize
    // inside round 1's first job instead of paying two dedicated eager
    // passes — OPTIMIZATION_r17.md measured this loop at 26 sequential jobs for
    // 1.2 CPU-s at the bench SF, all scheduling floor.
    // r18: the barrier moved one level DOWN, onto the edge relation
    // itself — checkpointing the mirrored union meant the (expensive)
    // pair-generation subplan appeared in BOTH union branches and ran
    // twice inside the one materialization job. Mirroring on top of the
    // checkpoint runs it once; the union of two checkpoint-block reads is
    // trivial to recompute each round.
    val e = edges.select(col("src"), col("dst")).localCheckpoint(eager = false)
    val bidir = e unionByName e.select(col("dst").as("src"), col("src").as("dst"))
    var labels = nodes.select(col("id"), col("id").as("comp"))
      .localCheckpoint(eager = false)
    var converged = false
    var prevSum: Option[Long] = None
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = bidir.join(labels, bidir("dst") === labels("id"))
        .groupBy(bidir("src").as("nid"))
        .agg(min(col("comp")).as("nbr_comp"))
      val stepped = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(labels("id"),
          least(labels("comp"), coalesce(col("nbr_comp"), labels("comp")))
            .as("comp"))
      // pointer jumping: labels are node ids, so chase one indirection —
      // comp := comp(comp) — and the reachable-min distance doubles
      val jumped = stepped.as("l")
        .join(stepped.select(col("id").as("cid"), col("comp").as("ccomp")).as("c"),
          col("l.comp") === col("cid"), "left")
        .select(col("l.id").as("id"),
          least(col("l.comp"), coalesce(col("ccomp"), col("l.comp"))).as("comp"))
      // lineage truncation + fixpoint probe in ONE action (r17): the lazy
      // checkpoint is materialized by the sum aggregate's own job, so a
      // round costs one action instead of an eager-checkpoint job PLUS a
      // sum job. Labels only ever DECREASE, so the label sum is unchanged
      // iff the round was a fixpoint — one tiny aggregate over the
      // now-materialized rows replaces a self-join diff (inherent cost of
      // any iterative fixpoint).
      val next = jumped.localCheckpoint(eager = false)
      val sumRow = next.agg(org.apache.spark.sql.functions.sum("comp")).head()
      // sum over ZERO rows is null (empty nodes): treat as converged-at-0
      val sum = if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
      converged = prevSum.contains(sum)
      prevSum = Some(sum)
      labels = next
      i += 1
    }
    // returning partially-propagated labels would silently split one real
    // cluster into phantom components, each "represented" by a duplicate
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within $maxIter rounds " +
        "(pointer jumping covers distance 2^rounds — is the graph " +
        "adversarially deep, or maxIter too small?)")
    labels.select(col("id"), col("comp").as("component"))
  }

  // ---------------------------------------------------------------------------
  // q55 — near-dup clusters + representative selection over a bounded block
  // (doc_id < 500 keeps the exact pairwise oracle quadratic bounded at any
  // sf; the unbounded path feeds q43's LSH pairs into the SAME
  // connectedComponents step). Representative = the cluster's min doc_id —
  // the keep-first rule of exact dedup (A7) lifted to near-dup groups.
  val JaccardThreshold = 0.5

  val q55DedupClusters: Q = (s, d) => {
    val block = Tables.documents(s, d).filter(col("doc_id") < 500)
    // the one pair-generation path: prefix-filtered candidates, exact
    // verification (spec-asserted equal to full postings)
    val pairs = jaccardPairs(block, JaccardThreshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val nodes = SimilarityQueries.withShingles(block)
      .select(col("doc_id").as("id"))
    connectedComponents(nodes, pairs)
      .select(col("id").as("doc_id"), col("component"),
        (col("id") === col("component")).as("is_representative"))
      .orderBy("doc_id")
  }

  val q55Sql: String =
    // threshold interpolated from the SAME constant as the Spark query —
    // a literal copy would silently desynchronize the oracle on change
    s"""WITH RECURSIVE toked AS (
      |  SELECT doc_id, string_split(text, ' ') AS t
      |  FROM documents WHERE doc_id < 500),
      |sub AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
      |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
      |  FROM toked WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sub a JOIN sub b ON a.doc_id < b.doc_id
      |    AND least(len(a.sh), len(b.sh))
      |      >= $JaccardThreshold * greatest(len(a.sh), len(b.sh))
      |  WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
      |    / (len(a.sh) + len(b.sh)
      |       - len(list_filter(a.sh, x -> list_contains(b.sh, x))))
      |    >= $JaccardThreshold),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM sub
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      |SELECT src AS doc_id, min(dst) AS component,
      |  (src = min(dst)) AS is_representative
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  val queries: Map[String, Q] = Map("q55_dedup_clusters" -> q55DedupClusters)
  val oracles: Map[String, String] = Map("q55_dedup_clusters" -> q55Sql)
}
