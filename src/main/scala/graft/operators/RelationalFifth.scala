package graft.operators

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fifth relational tranche — scalar-library surface the reference's
  * downstream consumers lean on (reference exposes raw mutation feeds;
  * every derived view is consumer SQL):
  *
  *  - [[a1ArrayHof]]: higher-order array functions (collect → sort →
  *    transform/filter/aggregate) — the nested-data algebra.
  *  - [[m2DateFunctions]]: the date/time scalar library (calendar
  *    arithmetic, month clamping, day-of-* extractions).
  *  - [[j2FullOuter]]: full-outer join with two-sided null handling,
  *    the one join flavor the earlier tranches don't exercise.
  *
  * All three stay in whole-stage codegen (higher-order functions and
  * date arithmetic are codegen'd expressions, not UDFs), and the array
  * query's only shuffle is the groupBy on the order key.
  */
object RelationalFifth extends QueryModule {
  import QueryUtil.cents

  // ── higher-order array functions ────────────────────────────────────
  /** Per-order quantity vector algebra: one grouped collect (the only
    * shuffle), then pure array expressions — fold (aggregate), map
    * (transform), filter, distinct — all inside codegen. The sort makes
    * the collected list deterministic, so the fold order (and the hash
    * gate) is engine-independent. */
  def a1ArrayHof(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast("long")))
        .as("qs"))
      .select(col("l_orderkey"),
        size(col("qs")).as("n_items"),
        aggregate(col("qs"), lit(0L), (a, x) => a + x).as("total_qty"),
        size(filter(col("qs"), _ > 25L)).as("n_big"),
        element_at(col("qs"), -1).as("max_qty"),
        size(array_distinct(col("qs"))).as("n_uniq"),
        aggregate(transform(col("qs"), x => x * x), lit(0L),
          (a, x) => a + x).as("sum_sq"))
      .orderBy("l_orderkey")

  val a1Sql: String =
    """WITH g AS (
      |  SELECT l_orderkey,
      |    list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT l_orderkey,
      |  CAST(len(qs) AS INT) AS n_items,
      |  CAST(list_aggregate(qs, 'sum') AS BIGINT) AS total_qty,
      |  CAST(len(list_filter(qs, x -> x > 25)) AS INT) AS n_big,
      |  qs[-1] AS max_qty,
      |  CAST(len(list_distinct(qs)) AS INT) AS n_uniq,
      |  CAST(list_aggregate(list_transform(qs, x -> x * x), 'sum')
      |    AS BIGINT) AS sum_sq
      |FROM g ORDER BY l_orderkey""".stripMargin

  // ── date/time scalar library ────────────────────────────────────────
  /** Calendar arithmetic surface: month-clamped add_months, day adds,
    * month boundaries, and the day-of-* extraction family. Narrow (no
    * shuffle at all — scan → project). DuckDB deltas handled in the
    * oracle: its dayofweek is Sunday=0 (Spark: Sunday=1), and DATE +
    * INTERVAL yields TIMESTAMP (cast back to DATE). */
  def m2DateFunctions(spark: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("o_orderdate")) // stored as timestamp; date math
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), d.as("order_date"),
        add_months(d, 3).as("plus3m"),
        date_add(d, 30).as("plus30d"),
        last_day(d).as("month_end"),
        trunc(d, "month").as("month_start"),
        dayofweek(d).as("dow"),
        dayofyear(d).as("doy"),
        quarter(d).as("qtr"),
        datediff(to_date(lit("1998-12-01")), d).as("days_to_cut"))
      .orderBy("o_orderkey")
  }

  val m2Sql: String =
    """WITH t AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
      |SELECT o_orderkey, d AS order_date,
      |  CAST(d + INTERVAL 3 MONTH AS DATE) AS plus3m,
      |  d + 30 AS plus30d,
      |  last_day(d) AS month_end,
      |  CAST(date_trunc('month', d) AS DATE) AS month_start,
      |  CAST(dayofweek(d) + 1 AS INT) AS dow,
      |  CAST(dayofyear(d) AS INT) AS doy,
      |  CAST(quarter(d) AS INT) AS qtr,
      |  CAST(date_diff('day', d, DATE '1998-12-01') AS INT) AS days_to_cut
      |FROM t ORDER BY o_orderkey""".stripMargin

  // ── full-outer join ─────────────────────────────────────────────────
  /** Nation-level customer vs supplier account balances over
    * asymmetric filters, joined FULL OUTER so either side may be
    * absent; two-sided COALESCE merges the keys. Both inputs aggregate
    * BEFORE the join (25-row join inputs at any scale — the fact
    * tables never ride the outer join). */
  def j2FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 7500.0d)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_rich_cust"),
        sum(cents(col("c_acctbal"))).as("cust_bal_cents"))
    val supp = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0.0d)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_debt_supp"),
        sum(cents(col("s_acctbal"))).as("supp_bal_cents"))
    cust.join(supp, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_rich_cust"), lit(0L)).as("n_rich_cust"),
        coalesce(col("cust_bal_cents"), lit(0L)).as("cust_bal_cents"),
        coalesce(col("n_debt_supp"), lit(0L)).as("n_debt_supp"),
        coalesce(col("supp_bal_cents"), lit(0L)).as("supp_bal_cents"))
      .orderBy("nationkey")
  }

  val j2Sql: String =
    """WITH cust AS (
      |  SELECT c_nationkey AS nationkey, COUNT(*) AS n_rich_cust,
      |    CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS cust_bal_cents
      |  FROM customer WHERE c_acctbal > 7500.0
      |  GROUP BY c_nationkey),
      |supp AS (
      |  SELECT s_nationkey AS nationkey, COUNT(*) AS n_debt_supp,
      |    CAST(SUM(CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS supp_bal_cents
      |  FROM supplier WHERE s_acctbal < 0.0
      |  GROUP BY s_nationkey)
      |SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
      |  COALESCE(c.n_rich_cust, 0) AS n_rich_cust,
      |  COALESCE(c.cust_bal_cents, 0) AS cust_bal_cents,
      |  COALESCE(s.n_debt_supp, 0) AS n_debt_supp,
      |  COALESCE(s.supp_bal_cents, 0) AS supp_bal_cents
      |FROM cust c FULL OUTER JOIN supp s ON c.nationkey = s.nationkey
      |ORDER BY nationkey""".stripMargin

  // ── fuzzy (edit-distance) join ──────────────────────────────────────
  /** Blocked fuzzy string join — entity resolution's core operator:
    * probe names (here: part names with the last character dropped, a
    * deterministic "typo") match any part whose name is within
    * levenshtein ≤ 2. The block key is (first name token × length):
    * `lev(a,b) ≤ k` forces `|len(a) − len(b)| ≤ k`, so each probe
    * explodes to the 2k+1 admissible target lengths and the length
    * becomes part of the hash equi-join — LOSSLESS, and the best of
    * the three candidate levers measured at sf1 (the comparison table,
    * including the rejected pigeonhole/PartEnum chunk filter, lives at
    * the top of [[graft.functions.FuzzyMatch]]): 4.6 → 3.8 s, slope
    * 11× → ~4.7× per decade. Round 12: the lever is no longer
    * hard-wired — [[graft.functions.FuzzyBlocking.fuzzyJoin]] probes
    * block selectivity on a sample and picks band or pigeonhole-chunk
    * per corpus (on part names the probe picks band, reproducing this
    * exact plan; both levers are lossless, so the oracle is
    * lever-independent). */
  def fj1FuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
    val probes = parts.filter(col("p_partkey") % 400 === 0)
      .select(col("p_partkey").as("probe_id"),
        expr("substring(p_name, 1, length(p_name) - 1)").as("q"))
      .withColumn("blk", split_part(col("q"), lit(" "), lit(1)))
    val targets = parts
      .select(col("p_partkey").as("match_key"),
        col("p_name").as("name"),
        split_part(col("p_name"), lit(" "), lit(1)).as("blk"))
    graft.functions.FuzzyBlocking.fuzzyJoin(probes, targets, k = 2)
      .orderBy("probe_id", "match_key")
  }

  val fj1Sql: String =
    """WITH probes AS (
      |  SELECT p_partkey AS probe_id,
      |    substr(p_name, 1, length(p_name) - 1) AS q,
      |    split_part(substr(p_name, 1, length(p_name) - 1), ' ', 1) AS blk
      |  FROM part WHERE p_partkey % 400 = 0),
      |targets AS (
      |  SELECT p_partkey AS match_key, p_name,
      |    split_part(p_name, ' ', 1) AS blk
      |  FROM part)
      |SELECT probe_id, match_key,
      |  CAST(levenshtein(q, p_name) AS INT) AS dist
      |FROM probes JOIN targets USING (blk)
      |WHERE levenshtein(q, p_name) <= 2
      |ORDER BY probe_id, match_key""".stripMargin

  // ── exact percentiles ───────────────────────────────────────────────
  /** Exact interpolated percentiles of customer balances per market
    * segment. Inputs are integer cents and the percentile fractions are
    * dyadic (1/4, 1/2, 3/4), so the linear interpolation
    * `lower + f·(higher − lower)` is IEEE-exact in both engines — the
    * aggregate is hash-verifiable despite returning doubles. (The
    * approximate path for 100 TB is [[Sketches]]; this is the exact
    * small-group complement.) */
  def g5ExactMedian(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), cents(col("c_acctbal")).as("bal"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        percentile(col("bal"), lit(0.25)).as("p25_cents"),
        percentile(col("bal"), lit(0.5)).as("median_cents"),
        percentile(col("bal"), lit(0.75)).as("p75_cents"))
      .orderBy("c_mktsegment")

  val g5Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  quantile_cont(bal, 0.25) AS p25_cents,
      |  quantile_cont(bal, 0.5) AS median_cents,
      |  quantile_cont(bal, 0.75) AS p75_cents
      |FROM (SELECT c_mktsegment,
      |        CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal
      |      FROM customer)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("a1_array_hof", a1ArrayHof, a1Sql),
    QuerySpec("m2_date_functions", m2DateFunctions, m2Sql),
    QuerySpec("j2_full_outer", j2FullOuter, j2Sql),
    QuerySpec("fj1_fuzzy_join", fj1FuzzyJoin, fj1Sql),
    QuerySpec("g5_exact_median", g5ExactMedian, g5Sql))
}
