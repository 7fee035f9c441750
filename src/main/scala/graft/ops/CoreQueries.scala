package graft.ops

import graft.{Q, Tables}
import graft.functions.DecimalKernels.{dec, dec_mul, dec_sum}
import org.apache.spark.sql.functions._

/** Core relational operator surface (SURVEY.md §2.1–§2.4, §2.6–§2.7),
  * re-expressed Spark-first over the driver TESTDATA star schema.
  *
  * Determinism rules for DuckDB-oracle hash parity:
  *   - additive aggregates go through DECIMAL (exact, order-independent),
  *     then CAST to DOUBLE — identical bits in both engines;
  *   - min/max/count/countDistinct are exact as-is;
  *   - stddev/corr/percentile (order-sensitive float accumulation) are
  *     rounded and only emitted on low-cardinality outputs;
  *   - every query ends in a total ORDER BY over a unique key set.
  *
  * Reference anchors: the equivalent DuckDB-SQL shapes live in
  * `src/services/event_store/duckdb.py` (scan/filter/join/agg),
  * `src/recording_ui/services/data_service.py` (pagination/discovery),
  * `scripts/volatility_study.py` (descriptive stats / percentiles / corr),
  * `src/recording_ui/services/explorer_data.py` (histogram).
  */
object CoreQueries {

  /** Exact decimal sum of a double column, surfaced as DOUBLE.
    * Decimal addition is associative ⇒ shuffle/merge order cannot change the
    * result, unlike naive double sums. (SURVEY §2.4 A1/A3 oracle parity.)
    *
    * Input precision is a per-column CONTRACT. The default (8,2) fits
    * every money/measure column in this schema (2-decimal values,
    * |v| < 10^6: quantities ≤ 50, prices ≤ 5·10^5, balances ≤ 10^4) with a
    * (18,2) buffer good to ~10^16 cents — overflow only past ~10^11
    * max-value rows (Spark then raises or nulls an overflowed sum rather
    * than wrapping, so the failure mode is loud in oracle checks, not
    * silent corruption).
    *
    * Cost: the cast is `dec` ([[graft.functions.DecimalKernels]]), which
    * settles the value in double arithmetic instead of Spark's
    * `Double.toString` + `BigDecimal` per row. At p ≤ 8 Spark's
    * `DecimalAggregates` rewrites the sum to a long sum, so it needs no
    * kernel. A column that needs 9–18 digits is summed with `dec_sum`, as
    * q01's product is: Spark's own sum of it adds `BigDecimal`s in a
    * decimal(p+10) buffer (measured on q01: blanket decimal(28,4) casts cost
    * 1.21 s vs 0.69 s with (8,2) inputs), `dec_sum` adds longs.
    */
  private def dsum(colName: String, prec: Int = 8, scale: Int = 2) =
    sum(dec(col(colName), prec, scale)).cast("double")

  // ---------------------------------------------------------------------------
  // q01 — GROUP BY + multi-aggregate (A3): per-flag/status rollup of lineitem.
  // Reference shape: per-doc_type COUNT/MIN/MAX (`query_session.py:43-53`).
  val q01Agg: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        dsum("l_quantity").as("sum_qty"),
        dsum("l_extendedprice").as("sum_price"),
        // rounded 2dp: the engines' double->decimal input casts differ on
        // rare shortest-repr boundary rows (Spark casts via the shortest
        // decimal repr, DuckDB rounds the binary value), drifting the exact
        // decimal sums ~1e-6 at 600k rows. Input widths (8,2)/(4,2) per the
        // dsum contract (2-decimal data); the product is (14,4), its sum
        // (24,4) — dec_mul/dec_sum keep both in longs.
        round(dec_sum(dec_mul(dec(col("l_extendedprice"), 8, 2),
          lit(1).cast("decimal(4,2)") - dec(col("l_discount"), 4, 2))
        ).cast("double"), 2).as("sum_disc_price"),
        min("l_shipdate").as("min_ship"),
        max("l_shipdate").as("max_ship"))
      // total order over a ≤6-value domain (3 returnflags × 2 linestati):
      // the limit is physically unreachable but lets Catalyst plan
      // TakeOrderedAndProject — one pass, no range-partitioning sample
      // stage (~0.15 s of pure fixed cost on a 6-row sort under AQE)
      .orderBy("l_returnflag", "l_linestatus").limit(100)
  }
  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE), 2) AS sum_disc_price,
      |  min(l_shipdate) AS min_ship,
      |  max(l_shipdate) AS max_ship
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------------
  // q02 — projection + conjunctive filter (P1/P2/P6): pushed to the parquet
  // scan by Catalyst (PushedFilters + ReadSchema).
  val q02FilterProject: Q = (s, d) => {
    Tables.lineitem(s, d)
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }
  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------------------
  // q03 — broadcast equi inner join (J1): fact joins small dim; Catalyst
  // auto-broadcasts, made explicit here because at 100 TB the fact side must
  // never shuffle for a dimension join.
  val q03JoinAgg: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        dsum("o_totalprice").as("revenue"))
      .orderBy("c_mktsegment")
  }
  val q03Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------------
  // q04 — left-semi join (J2): "all lineitems of qualifying orders", the exact
  // Spark form of the reference's player_games CTE (`duckdb.py:296-310`).
  val q04SemiJoin: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      .select("o_orderkey")
    li.join(bigOrders, li("l_orderkey") === bigOrders("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), dsum("l_quantity").as("sum_qty"))
      .orderBy("l_returnflag")
  }
  val q04Sql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_orderkey IN
      |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------------
  // q05 — GROUP BY + HAVING (A4): qualifying-games pattern
  // (`duckdb.py:211-218`, HAVING tick_count >= min_ticks).
  val q05Having: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"), dsum("l_quantity").as("sum_qty"))
      .filter(col("n_items") >= 6)
      .orderBy("l_orderkey")
  }
  val q05Sql: String =
    """SELECT l_orderkey, count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 6
      |ORDER BY l_orderkey""".stripMargin

  // ---------------------------------------------------------------------------
  // q06 — DISTINCT projection (A5): list_games/list_players discovery
  // (`duckdb.py:226-230,340-384`).
  val q06Distinct: Q = (s, d) =>
    Tables.orders(s, d).select("o_orderstatus", "o_orderpriority")
      .distinct().orderBy("o_orderstatus", "o_orderpriority")
  val q06Sql: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------------
  // q07 — top-k by computed score (O5): top rug-drops shape
  // (`analyze_rug_mechanism.py:64-76`). Spark plans this as TakeOrderedAndProject
  // — no global sort at scale.
  val q07TopK: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)
  val q07Sql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------------
  // q08 — IN-list predicate (P5): `WHERE game_id IN (UNNEST($ids))`
  // (`duckdb.py:255-264`).
  val q08InList: Q = (s, d) => {
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    c.join(broadcast(n.filter(col("n_name").isin("NATION_1", "NATION_3", "NATION_7"))),
        c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"), dsum("c_acctbal").as("sum_bal"))
      .orderBy("n_name")
  }
  val q08Sql: String =
    """SELECT n_name, count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS sum_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_name IN ('NATION_1','NATION_3','NATION_7')
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------------
  // q09 — anti join (U2): set-difference dedup semantics
  // (`export_for_julius.py:66-72` seen-set skip).
  val q09AntiJoin: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
      .select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }
  val q09Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000 AND o_custkey IS NOT NULL)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------------
  // q10 — COUNT(DISTINCT) per group (A2/A3): unique sessions per doc_type
  // (`query_session.py:171-179`).
  val q10CountDistinct: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  val q10Sql: String =
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
      |  count(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------------
  // q11 — LIMIT + OFFSET pagination with whitelisted ORDER BY (O3):
  // games-list UI (`data_service.py:95-131`).
  val q11Pagination: Q = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
      .offset(100).limit(50)
  val q11Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin

  // ---------------------------------------------------------------------------
  // q12 — conditional aggregates (A14): wins/losses/skips via CASE counts
  // (`ml_data.py:131-147`).
  val q12ConditionalAgg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_discounted"),
        sum(when(col("l_discount") <= 0.05, 1).otherwise(0)).as("n_full_price"),
        sum(when(col("l_tax") > 0.04, dec(col("l_quantity"), 8, 2)))
          .cast("double").as("taxed_qty")) // (8,2) per the dsum contract
      .orderBy("l_linestatus")
  val q12Sql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
      |  CAST(sum(CASE WHEN l_discount <= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_full_price,
      |  CAST(sum(CASE WHEN l_tax > 0.04 THEN CAST(l_quantity AS DECIMAL(28,4)) END) AS DOUBLE) AS taxed_qty
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------------------
  // q13 — exact percentiles (A9): p5..p99 over metric distributions
  // (`volatility_study.py:174-184`; exact `percentile` = numpy linear
  // interpolation = DuckDB quantile_cont — NOT percentile_approx).
  val q13Percentiles: Q = (s, d) =>
    // ONE percentile state for all five ranks (the array form): five
    // scalar percentile() calls each build their own O(distinct) value
    // map over the same column — measured 1.62 s vs 0.5 s at sf0.1 under
    // the r13 full-materialization protocol. Same exact algorithm, same
    // interpolated values, element-extracted to the same columns.
    Tables.orders(s, d)
      .agg(expr(
        "percentile(o_totalprice, array(0.05D, 0.25D, 0.50D, 0.75D, 0.99D))")
        .as("ps"))
      .select(
        round(element_at(col("ps"), 1), 4).as("p05"),
        round(element_at(col("ps"), 2), 4).as("p25"),
        round(element_at(col("ps"), 3), 4).as("p50"),
        round(element_at(col("ps"), 4), 4).as("p75"),
        round(element_at(col("ps"), 5), 4).as("p99"))
  val q13Sql: String =
    """SELECT round(quantile_cont(o_totalprice, 0.05), 4) AS p05,
      |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
      |  round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
      |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
      |  round(quantile_cont(o_totalprice, 0.99), 4) AS p99
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------------------
  // q14 — Pearson correlation (A10): volatility-vs-duration matrix
  // (`volatility_study.py:187-196`). Rounded: float accumulation order differs.
  val q14Corr: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  val q14Sql: String =
    """SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------------
  // q15 — fixed-range histogram (A11): 50-bin duration histogram clipped at 500
  // (`explorer_data.py:272-288`): least(x, cap) + floor-bucket + count.
  val q15Histogram: Q = (s, d) =>
    Tables.orders(s, d)
      .select((floor(least(col("o_totalprice"), lit(500000.0)) / 10000).cast("long")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  val q15Sql: String =
    """SELECT CAST(floor(least(o_totalprice, 500000.0) / 10000) AS BIGINT) AS bucket,
      |  count(*) AS n
      |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------------
  // q16 — descriptive stats (A8): min/max/mean/median/std per group
  // (`volatility_study.py:163-174`). Mean = exact decimal sum / count.
  val q16DescStats: Q = (s, d) =>
    Tables.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        min("c_acctbal").as("min_bal"),
        max("c_acctbal").as("max_bal"),
        (dsum("c_acctbal") / count(lit(1))).as("mean_bal"),
        round(expr("percentile(c_acctbal, 0.5)"), 4).as("median_bal"),
        round(stddev(col("c_acctbal")), 4).as("std_bal"))
      .orderBy("c_mktsegment")
  val q16Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS mean_bal,
      |  round(quantile_cont(c_acctbal, 0.5), 4) AS median_bal,
      |  round(stddev_samp(c_acctbal), 4) AS std_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------------
  // q17 — multi-way join through the star (J1 composed): region→nation→customer
  // →orders revenue rollup. Dims broadcast; fact never shuffles pre-agg.
  val q17StarJoin: Q = (s, d) => {
    val r = Tables.region(s, d)
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_orders"), dsum("o_totalprice").as("revenue"))
      .orderBy("r_name")
  }
  val q17Sql: String =
    """SELECT r_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ---------------------------------------------------------------------------
  // q18 — deterministic hash split (D9/F10): md5(key) first 8 hex → [0,1),
  // 30% validation split, bit-exact reproducible (`backtest_service.py:262-265`).
  val q18HashSplit: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("bucket01", graft.hashBucket01(col("o_orderkey")))
      .withColumn("split", when(col("bucket01") < 0.30, "validation").otherwise("train"))
      .groupBy("split").agg(count(lit(1)).as("n"))
      .orderBy("split")
  val q18Sql: String =
    """SELECT CASE WHEN
      |    CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967295.0 < 0.30
      |  THEN 'validation' ELSE 'train' END AS split,
      |  count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // q19 — date/time functions (F6): per-day order stats (date partition-key
  // derivation, `writer.py:127` strftime('%Y-%m-%d')).
  val q19DateAgg: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("revenue"))
      .orderBy("order_date")
  val q19Sql: String =
    """SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // q20 — string functions (F9): suffix extraction + concat + filtering
  // (`analyze_rug_mechanism.py:48` game_id[-8:]).
  val q20Strings: Q = (s, d) =>
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        substring(col("p_name"), -8, 8).as("name_suffix"),
        upper(col("p_brand")).as("brand_upper"),
        concat_ws("::", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"))
      .filter(col("p_size") >= 25)
      .orderBy("p_partkey")
  val q20Sql: String =
    """SELECT p_partkey, substring(p_name, -8, 8) AS name_suffix,
      |  upper(p_brand) AS brand_upper,
      |  concat_ws('::', p_brand, p_type) AS brand_type,
      |  length(p_name) AS name_len
      |FROM part WHERE p_size >= 25 ORDER BY p_partkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "q01_group_agg" -> q01Agg,
    "q02_filter_project" -> q02FilterProject,
    "q03_join_agg" -> q03JoinAgg,
    "q04_semi_join" -> q04SemiJoin,
    "q05_having" -> q05Having,
    "q06_distinct" -> q06Distinct,
    "q07_topk" -> q07TopK,
    "q08_in_list" -> q08InList,
    "q09_anti_join" -> q09AntiJoin,
    "q10_count_distinct" -> q10CountDistinct,
    "q11_pagination" -> q11Pagination,
    "q12_conditional_agg" -> q12ConditionalAgg,
    "q13_percentiles" -> q13Percentiles,
    "q14_corr" -> q14Corr,
    "q15_histogram" -> q15Histogram,
    "q16_desc_stats" -> q16DescStats,
    "q17_star_join" -> q17StarJoin,
    "q18_hash_split" -> q18HashSplit,
    "q19_date_agg" -> q19DateAgg,
    "q20_strings" -> q20Strings)

  val oracles: Map[String, String] = Map(
    "q01_group_agg" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_join_agg" -> q03Sql,
    "q04_semi_join" -> q04Sql,
    "q05_having" -> q05Sql,
    "q06_distinct" -> q06Sql,
    "q07_topk" -> q07Sql,
    "q08_in_list" -> q08Sql,
    "q09_anti_join" -> q09Sql,
    "q10_count_distinct" -> q10Sql,
    "q11_pagination" -> q11Sql,
    "q12_conditional_agg" -> q12Sql,
    "q13_percentiles" -> q13Sql,
    "q14_corr" -> q14Sql,
    "q15_histogram" -> q15Sql,
    "q16_desc_stats" -> q16Sql,
    "q17_star_join" -> q17Sql,
    "q18_hash_split" -> q18Sql,
    "q19_date_agg" -> q19Sql,
    "q20_strings" -> q20Sql)
}
