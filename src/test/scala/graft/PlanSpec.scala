package graft

import graft.functions.{ArgminL2, DecimalCast, DecimalSum}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, MakeDecimal, Multiply}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Physical-plan assertions for the registered queries: the point of a
  * declarative engine is WHICH plan Catalyst picks — these lock in the
  * plan properties that matter at 100 TB (scan-level pushdown, broadcast
  * joins on dimension sides, no stray cartesian products), so a regression
  * that silently drops a broadcast or pushdown fails CI, not a cluster run.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.sparkPlan.toString

  private def scanMeta(name: String): String = {
    // pushdown is visible on the FileSourceScan metadata
    val df: DataFrame = SparkEntry.queries(name)(spark, d)
    df.queryExecution.executedPlan.toString +
      df.queryExecution.sparkPlan.treeString(verbose = true)
  }

  test("q02: filters are pushed to the parquet scan, projection pruned") {
    val s = scanMeta("q02_filter_project")
    assert(s.contains("PushedFilters: [IsNotNull(l_quantity)") ||
      s.contains("GreaterThan(l_quantity,45.0)"), s.take(2000))
    assert(!s.contains("l_comment"), "projection must prune unused columns")
  }

  test("q03/q17: dimension joins broadcast — the fact side never shuffles") {
    assert(plan("q03_join_agg").contains("BroadcastHashJoin"))
    assert(!plan("q03_join_agg").contains("SortMergeJoin"))
    val star = plan("q17_star_join")
    assert(star.contains("BroadcastHashJoin"))
    assert(!star.contains("SortMergeJoin"),
      "star-schema dims must broadcast, not sort-merge")
  }

  test("q04: semi join stays a semi join (no row explosion)") {
    assert(plan("q04_semi_join").contains("LeftSemi"))
  }

  test("q27: range association broadcasts the tiny anchor side") {
    val p = plan("q27_range_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("q21-q25: window queries sort within user partitions, not globally") {
    // q22/q25 carry an r17 pre-sort checkpoint barrier that truncates the
    // final plan, so their window shape is asserted on the factored
    // pre-barrier relation (the q80Scores precedent)
    val plans =
      Seq("q21_window_lag", "q23_running_max_drawdown",
        "q45_volatility_metrics", "q46_equity_curve", "q50_obs_features")
        .map(q => q -> plan(q)) ++
      Seq("q25_peak_tracking" ->
        ops.WindowQueries.q25Features(spark, d)
          .queryExecution.sparkPlan.toString)
    plans.foreach { case (q, p) =>
      assert(p.contains("Window"), s"$q should use WindowExec")
      // windowspecdefinition(user_id, ...) = per-entity partitioning; a
      // spec without it would global-sort on a single reducer at scale
      assert(p.contains("windowspecdefinition(user_id"),
        s"$q window must partition by user_id, got:\n${p.take(1500)}")
    }
  }

  test("q44: native simhash runs inside the scan — no explode, no aggregate") {
    val p = plan("q44_simhash")
    assert(p.contains("simhash64"))
    assert(!p.contains("Generate"), "no explode for a per-document function")
    assert(!p.toLowerCase.contains("hashaggregate"),
      "no shuffle aggregate for a per-document function")
  }

  test("q42: fused minhash_text — no higher-order shingle eval in the plan") {
    val p = plan("q42_minhash_signatures")
    assert(p.contains("minhash_text"))
    assert(!p.contains("transform("),
      "shingling must be fused into the native expression, not interpreted HOFs")
  }

  test("q52/q54: windows partition by user; q52 aggregates with partial agg") {
    val p52 = plan("q52_vol_of_vol")
    assert(p52.contains("windowspecdefinition(user_id"))
    assert(p52.contains("partial_"), "groupBy must map-side combine")
    assert(plan("q54_rug_probability").contains("windowspecdefinition(user_id"))
  }

  test("q55 pair generation: inverted-index join, never a nested loop") {
    val block = Tables.documents(spark, d)
    val p = similarity.DedupClusters.jaccardPairs(block, 0.5)
      .queryExecution.sparkPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "thresholded set-similarity must join postings on the shingle hash, " +
        s"not nested-loop all pairs:\n${p.take(1500)}")
    assert(p.contains("Join"), "expected a hash join on the exploded postings")
  }

  test("q57: packing window partitions by shard — no single-partition funnel") {
    val p = plan("q57_sequence_packing")
    assert(p.contains("windowspecdefinition(shard"),
      s"cumulative token sum must partition by shard:\n${p.take(1500)}")
    assert(!p.contains("SinglePartition"),
      "packing must never move the corpus to a single partition:\n" + p.take(1500))
  }

  test("q67: as-of join is one keyed window pass — no per-trade probe join") {
    val p = plan("q67_asof_join")
    assert(p.contains("windowspecdefinition(user_id"),
      s"carry-forward must partition by user:\n${p.take(1500)}")
    assert(!p.contains("SinglePartition"),
      "as-of merge must never funnel to one partition:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "as-of must not plan as a range/cross probe")
  }

  test("q68: OHLC bars partial-aggregate map-side — no rank windows") {
    val p = plan("q68_ohlc_bars")
    assert(p.contains("partial_min_by") || p.contains("partial_"),
      s"open/close must map-side combine:\n${p.take(1500)}")
    assert(!p.contains("windowspecdefinition"),
      "ticks must never sort through a rank window:\n" + p.take(1500))
  }

  test("q64: global index broadcasts shard offsets; doc window is sharded") {
    val p = plan("q64_global_index")
    assert(p.contains("windowspecdefinition(shard"),
      s"row_number must partition by shard:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "offsets must broadcast back, not shuffle the corpus:\n" + p.take(1500))
  }

  test("q69: kmeans assignment broadcasts centroids — vectors never SMJ") {
    // the codebook reaches argmin_l2 as a broadcast value: the assignment
    // reads the one corpus scan with no join or exchange in between
    val p = SparkEntry.queries("q69_kmeans")(spark, d).queryExecution.executedPlan
    val at = collect(p) {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[ArgminL2])) => n
    }
    assert(at.size == 1, s"one argmin_l2 node expected:\n$p")
    assert(collect(at.head) { case n: Exchange => n; case n: BaseJoinExec => n }.isEmpty,
      s"no join or exchange between the scan and argmin_l2:\n$p")
    assert(collect(at.head) { case n: FileSourceScanExec => n }.size == 1,
      s"argmin_l2 must read the corpus scan itself:\n$p")
    assert(collect(p) { case n: BaseJoinExec => n }.isEmpty, s"no join at all:\n$p")
  }

  test("q69: Lloyd rounds stay out of the final lineage (independent of KmIters)") {
    // the centroid table is driver-local between rounds (r17) and reaches
    // the final assignment as a broadcast value, so its plan scans parquet
    // exactly ONCE (its own pass) and joins nothing; without that boundary
    // the plan would embed every previous round's scan and grow with
    // KmIters
    val p = SparkEntry.queries("q69_kmeans")(spark, d).queryExecution.optimizedPlan
    val parquetScans = "\\] parquet".r.findAllIn(p.toString).size
    assert(parquetScans == 1,
      s"final assign must contain exactly one parquet scan, found $parquetScans:\n" +
        p.toString.take(1500))
    assert(p.collect { case j: Join => j }.isEmpty,
      "centroids must not enter as a joined relation:\n" + p.toString.take(1500))
  }

  test("q53: rug argmax is a partial-aggregated groupBy feeding a broadcast join") {
    val p = plan("q53_sidebet_labels")
    assert(p.contains("partial_max_by") || p.contains("partial_"),
      "argmax must map-side combine, not rank-window sort")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "one-row-per-entity rug side must broadcast")
  }

  test("q51/q43: bucket-pair verification joins never broadcast the pair set") {
    // the 30× probe's one crash (round 10): Catalyst's Generate (explode)
    // size estimate keeps the pre-explosion child's sizeInBytes, so the
    // statically-planned BROADCAST of the candidate-pair relation OOMs the
    // driver the moment a corpus has real near-dup volume. Since round 11
    // plans.GenerateStatsGuard pins NO_BROADCAST_HASH on Generate-derived
    // join sides at the optimizer level (replacing r10's hand-placed merge
    // hint in the pair generator); this pins the resulting plan — a silent loss
    // of the guard would reintroduce a crash no sf0.001-sized test run
    // can see. GenerateStatsGuardSpec unit-tests the rule itself.
    for (name <- Seq("q51_rh_lsh_pairs", "q43_minhash_lsh_pairs",
        "q63_simhash_pairs", "q77_simhash_pairs_blocked")) {
      val p = plan(name)
      assert(p.contains("SortMergeJoin"),
        s"$name verification join must be a shuffled merge join:\n${p.take(1500)}")
    }
  }

  test("banded-pair queries: no lambda, no Window, no pair-keyed distinct") {
    // the one banded-pair primitive (bandedPairs over semPairs) must stay
    // codegen'd and shuffle only the banded rows: a lambda is an
    // interpreted HOF on the candidate path (the r15 ArrayExists.eval
    // trap), a Window drags the pair payload through a sort, and an
    // aggregate keyed on (id_a, id_b) is a post-Generate distinct that
    // exchanges the whole candidate set (42.7 M rows for q63 at 100×) —
    // emit-once dedup exists so that none of the three comes back.
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    for (name <- Seq("q43_minhash_lsh_pairs", "q63_simhash_pairs",
        "q77_simhash_pairs_blocked", "q51_rh_lsh_pairs", "q76_rh_lsh_stats",
        "q93_rh_wide_stats")) {
      val p = SparkEntry.queries(name)(spark, d).queryExecution.optimizedPlan
      val text = p.treeString.take(3000)
      assert(!p.exists(_.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction]))),
        s"$name: lambdafunction in the plan:\n$text")
      assert(p.collectFirst { case w: Window => w }.isEmpty,
        s"$name: Window in the plan:\n$text")
      val pairKeyed = p.collect { case a: Aggregate =>
        a.groupingExpressions.flatMap(_.references.map(_.name)).toSet
      }.filter(keys => keys("id_a") && keys("id_b"))
      assert(pairKeyed.isEmpty,
        s"$name: aggregate keyed on (id_a, id_b) — a candidate distinct:\n$text")
    }
  }

  test("q76: the LSH stats probe partial-aggregates and keeps q51's join guard") {
    // q76 exists to measure the pair pipeline without the output sink, so
    // its one-row reduction must map-side combine (partial aggregate
    // before the single-partition final) and the underlying verification
    // join must stay under the same no-broadcast guard as q51 — a probe
    // that broadcast-OOMs at scale measures nothing.
    val p = plan("q76_rh_lsh_stats")
    assert(p.contains("SortMergeJoin"),
      s"q76 verification join must be a shuffled merge join:\n${p.take(1500)}")
    assert(p.contains("partial_"),
      s"q76 aggregates must map-side combine:\n${p.take(1500)}")
  }

  test("q80: per-doc LM scoring is shuffle-free — the corpus never joins") {
    // the bigram model is vocab-bounded and shipped as a broadcast
    // variable probed inside the native bigram_score expression, so the
    // scoring side must be a pure narrow pipeline over the checkpointed
    // per-doc transition counts: no exchange, no join of any kind, no
    // per-transition row (r17; the prior shape exploded the corpus into
    // two broadcast joins and a hash aggregate).
    val p = text.TextQueries.q80Scores(spark, d)
      .queryExecution.sparkPlan.toString
    assert(p.contains("bigram_score"),
      s"scoring must ride the native per-doc expression:\n${p.take(1500)}")
    assert(!p.contains("Exchange"),
      s"the scoring side must not shuffle:\n${p.take(1500)}")
    assert(!p.contains("Join") && !p.contains("Generate"),
      s"no join and no explode may touch the corpus side:\n${p.take(1500)}")
  }

  test("q79: per-doc DSIR scoring is shuffle-free over the fused counts") {
    val p = text.TextQueries.q79ScoresDf(spark, d)
      .queryExecution.sparkPlan.toString
    assert(p.contains("dsir_score"),
      s"scoring must ride the native per-doc expression:\n${p.take(1500)}")
    assert(!p.contains("Exchange"),
      s"the scoring side must not shuffle:\n${p.take(1500)}")
    assert(!p.contains("Join") && !p.contains("Generate"),
      s"no join and no explode may touch the corpus side:\n${p.take(1500)}")
  }

  test("q82: weighted sample plans as TakeOrderedAndProject — no global sort") {
    val p = plan("q82_dsir_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"fixed-size sample must heap per partition, not globally sort:\n${p.take(1500)}")
  }

  test("q81: winnowing selection is shuffle-free; overlap join is never a nested loop") {
    val sel = text.TextQueries.winnowFingerprints(spark, d)
      .queryExecution.sparkPlan.toString
    // per-doc sliding_min selection: scan -> project -> explode, narrow
    // end to end — fingerprints leave the scan stage already selected
    assert(!sel.contains("Exchange"),
      s"winnowing selection must not shuffle:\n${sel.take(1500)}")
    assert(sel.contains("sliding_min"),
      s"selection must ride the native window-min:\n${sel.take(1500)}")
    assert(!sel.contains("CartesianProduct") &&
      !sel.contains("BroadcastNestedLoopJoin"),
      s"winnowing selection is a single-relation pipeline:\n${sel.take(1500)}")
    val p = plan("q81_winnow_overlap")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the overlap join must bucket on the fingerprint hash:\n${p.take(1500)}")
    assert(p.contains("Join"), "expected a hash-bucketed overlap join")
    assert(p.contains("partial_count"),
      s"pair counts must map-side combine:\n${p.take(1500)}")
  }

  test("q65: the df branch reuses the tf exchange — one corpus scan") {
    // reuse is decided while AQE runs the query, so the pre-execution
    // sparkPlan never shows it; assert on the final adaptive plan instead
    val df = SparkEntry.queries("q65_tfidf_topk")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(1500))
    assert(p.contains("ReusedExchange"),
      s"the df count must read the tf branch's exchange, not rescan:\n$p")
  }

  /** Every expression node of the optimized plan, where `dec_mul` is
    * already replaced by its long product.
    */
  private def optimizedExpressions(name: String): Seq[Expression] =
    SparkEntry.queries(name)(spark, d).queryExecution.optimizedPlan
      .collectWithSubqueries { case p => p.expressions }.flatten
      .flatMap(_.collect { case e => e })

  private def decimalPrecision(e: Expression): Option[Int] = e.dataType match {
    case t: DecimalType => Some(t.precision)
    case _ => None
  }

  test("decimal kernels: no per-row BigDecimal cast, product or sum in the switched queries") {
    Seq("q01_group_agg", "q03_join_agg", "q04_semi_join", "q05_having", "q08_in_list",
      "q12_conditional_agg", "q16_desc_stats", "q17_star_join", "q19_date_agg",
      "q29_daily_active", "q38_ivfpq_ann", "q76_rh_lsh_stats", "q90_pq_ann",
      "q93_rh_wide_stats").foreach { q =>
      val es = optimizedExpressions(q)
      val bigDecimalPaths = es.collect {
        case c @ Cast(child, t: DecimalType, _, _)
            if child.dataType == DoubleType && t.precision <= 18 => c
        case m @ Multiply(l, r, _)
            if decimalPrecision(l).isDefined && decimalPrecision(r).isDefined => m
        case s @ Sum(child, _) if decimalPrecision(child).exists(p => p >= 9 && p <= 18) => s
      }
      assert(bigDecimalPaths.isEmpty, s"$q: $bigDecimalPaths")
      assert(es.exists(_.isInstanceOf[DecimalCast]), s"$q casts through dec")
    }
    val q01 = optimizedExpressions("q01_group_agg")
    assert(q01.count(_.isInstanceOf[DecimalCast]) === 4)
    assert(q01.exists(_.isInstanceOf[DecimalSum]))
    assert(q01.exists { case MakeDecimal(_: Multiply, 14, 4, _) => true; case _ => false })
  }

  test("q01: one whole-stage-codegen'd HashAggregate pair, in two jobs") {
    val df = SparkEntry.queries("q01_group_agg")(spark, d)
    assert(jobsOf(df.collect()) === 2)
    val p = df.queryExecution.executedPlan
    assert(collect(p) { case a: BaseAggregateExec => a.getClass.getSimpleName } ===
      Seq("HashAggregateExec", "HashAggregateExec"))
    assert(collect(p) { case w: WholeStageCodegenExec =>
      w.collect { case h: HashAggregateExec => h } }.flatten.size === 2)
  }
}
