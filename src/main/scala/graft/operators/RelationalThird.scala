package graft.operators

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryUtil._

/** Third tranche of TPC-H-flavor relational coverage: the remaining
  * shapes expressible on the testdata schema (the partsupp-based
  * Q2/Q11/Q16/Q20 live in [[RelationalFourth]] over the observed
  * supply relation; no commit/receipt dates, so Q4's
  * and Q21's lateness predicate is ship-date-vs-order-date). What this
  * tranche adds over [[Relational]]/[[RelationalMore]]:
  *
  *  - correlated-EXISTS semi join (q4) and the waiting-supplier
  *    double-EXISTS (q21) — re-expressed as one grouped pass instead
  *    of Q21's textbook self-join-twice, which is the plan you want at
  *    100 TB (lineitem never rides a second shuffle)
  *  - disjunctive multi-column join predicates (q19) — exercises
  *    CNF-conversion pushdown through a broadcast join
  *  - conditional-aggregate market share with an exact integer-cents
  *    numerator/denominator (q8)
  *  - scalar-subquery threshold + anti join (q22), with the average
  *    compared as an exact integer cross-multiplication so the cut
  *    is bit-deterministic in both engines
  *  - cohort retention over the events stream (ev2) — the standard
  *    product-analytics companion to [[RelationalExt.ev1Funnel]]
  */
object RelationalThird extends QueryModule {

  private val Late = "INTERVAL 60 DAYS" // ship > order-date + 60d

  // ── Q4 flavor: order-priority checking ──────────────────────────────
  /** Orders placed in H2-1996 with at least one late line item, counted
    * per priority. The EXISTS is a left-semi join on l_orderkey with the
    * correlated lateness predicate in the join condition; orders and
    * lineitem each shuffle once on orderkey (the semi join keeps the
    * probe side narrow — no fan-out, no second pass). */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-07-01 00:00:00") &&
        col("o_orderdate") < lit("1997-01-01 00:00:00"))
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(Late),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ── Q8 flavor: national market share ────────────────────────────────
  /** NATION_7's share of ECONOMY-part revenue sold to ASIA customers,
    * per order year. Share = exact-cents conditional sum over exact-cents
    * total, one double division at the end. part/supplier/customer/
    * nation/region all broadcast; lineitem⋈orders is the only shuffle. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
          .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cust_nkey"))
    val suppNation = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("supp_nkey"),
        col("n_name").as("supp_nation"))
    val parts = Tables.part(spark, dir)
      .filter(col("p_type") === "ECONOMY").select("p_partkey")
    Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaNations), col("c_nationkey") === col("cust_nkey"),
        "left_semi")
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("supp_nkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_7",
            cents(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))))
          .otherwise(lit(0L))).cast("double") /
          sum(cents(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))))
            .cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  val q8Sql: String =
    """SELECT o_year,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN vol_cents ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(vol_cents) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, n2.n_name AS supp_nation,
      |    CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT) AS vol_cents
      |  FROM lineitem
      |    JOIN part ON l_partkey = p_partkey
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |    JOIN region ON n1.n_regionkey = r_regionkey
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA')
      |GROUP BY o_year ORDER BY o_year""".stripMargin

  // ── Q19 flavor: discounted revenue, disjunctive predicates ──────────
  /** Three (brand, size-range, quantity-range) branches OR-ed together
    * across the lineitem⋈part join. Catalyst extracts the common
    * `l_partkey = p_partkey` conjunct and pushes the per-side halves of
    * each branch below the (broadcast) join. Single-row revenue. */
  def q19DiscountedRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 15)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 25)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 35)))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
        .as("revenue"))

  val q19Sql: String =
    """SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 25)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 35)""".stripMargin

  // ── Q21 flavor: suppliers who kept orders waiting ───────────────────
  /** Suppliers that were the SOLE late shipper on a multi-supplier
    * finalized order. Textbook Q21 does lineitem EXISTS-join lineitem
    * NOT-EXISTS-join lineitem; here the per-order supplier/late-supplier
    * counts come from ONE grouped pass over lineitem⋈orders and the
    * sole-late supplier survives via a conditional MIN — the fact table
    * is read and shuffled exactly once, which is the difference between
    * a plan that survives 100 TB and one that doesn't. */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late_supp",
        when(col("l_shipdate") > col("o_orderdate") + expr(Late),
          col("l_suppkey")))
    // two-level aggregation instead of two COUNT(DISTINCT)s in one
    // groupBy: multiple distinct aggregates plan an Expand that triples
    // every lineitem row before the shuffle. Folding to (order, supp)
    // grain first (map-side partials, no Expand) and counting the
    // already-distinct rows computes the same three aggregates with a
    // strictly smaller shuffle — the difference that matters when
    // lineitem is the 100 TB fact.
    val perSupp = li.groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("late_supp").isNotNull, 1).otherwise(0))
        .as("is_late"))
    val perOrder = perSupp.groupBy("l_orderkey").agg(
      count(lit(1)).as("n_supp"),
      sum(col("is_late")).as("n_late"),
      min(when(col("is_late") === 1, col("l_suppkey")))
        .as("sole_late_supp"))
    perOrder
      .filter(col("n_supp") > 1 && col("n_late") === 1)
      .join(broadcast(Tables.supplier(spark, dir)),
        col("sole_late_supp") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(50)
  }

  val q21Sql: String =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM (
      |  SELECT l_orderkey,
      |    COUNT(DISTINCT l_suppkey) AS n_supp,
      |    COUNT(DISTINCT late_supp) AS n_late,
      |    MIN(late_supp) AS sole_late_supp
      |  FROM (
      |    SELECT l_orderkey, l_suppkey,
      |      CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |           THEN l_suppkey END AS late_supp
      |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |    WHERE o_orderstatus = 'F')
      |  GROUP BY l_orderkey)
      |JOIN supplier ON sole_late_supp = s_suppkey
      |WHERE n_supp > 1 AND n_late = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 50""".stripMargin

  // ── Q22 flavor: global sales opportunity ────────────────────────────
  /** Idle rich customers: above-average positive balance (within a
    * nation-key cohort), lapsed — no orders in the final two years of
    * the data — grouped by nation key (the schema has no phone column,
    * so nation key stands in for the country code; every customer has
    * SOME order in this data, so "lapsed" is the non-vacuous reading of
    * Q22's "no orders"). The average-balance cut is evaluated as an
    * exact integer cross-multiplication — `cents·count > sum_cents` —
    * so no float average can round differently across engines. The
    * threshold aggregate is one tiny broadcast row; customers anti-join
    * recent orders on custkey. */
  def q22GlobalSales(spark: SparkSession, dir: String): DataFrame = {
    val cohort = Tables.customer(spark, dir)
      .filter(col("c_nationkey") <= 10)
      .withColumn("bal_cents", cents(col("c_acctbal")).cast("long"))
    val thresh = cohort.filter(col("bal_cents") > 0)
      .agg(sum(col("bal_cents")).as("sum_cents"),
        count(lit(1)).as("n_pos"))
    cohort.crossJoin(broadcast(thresh))
      .filter(col("bal_cents") * col("n_pos") > col("sum_cents"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01 00:00:00"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        (sum(col("bal_cents")).cast("double") / lit(100.0d))
          .as("totacctbal"))
      .orderBy("cntrycode")
  }

  val q22Sql: String =
    """WITH cohort AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
      |  FROM customer WHERE c_nationkey <= 10),
      |thresh AS (
      |  SELECT CAST(SUM(bal_cents) AS BIGINT) AS sum_cents,
      |         COUNT(*) AS n_pos
      |  FROM cohort WHERE bal_cents > 0)
      |SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
      |  CAST(SUM(bal_cents) AS DOUBLE) / 100.0 AS totacctbal
      |FROM cohort, thresh
      |WHERE bal_cents * n_pos > sum_cents
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |GROUP BY c_nationkey ORDER BY cntrycode""".stripMargin

  // ── ev2: cohort retention over the events stream ────────────────────
  /** Classic D-n retention: cohort a user by first-activity day, then
    * count distinct returning users per (cohort_day, day_offset). Two
    * shuffles on user_id (first-day aggregate + the join back), then one
    * small aggregate — the events fact is scanned once per side and the
    * distinct-user count partial-aggregates before the final shuffle. */
  def ev2Retention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val firsts = e.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
    e.join(firsts, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  val ev2Sql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |firsts AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id)
      |SELECT cohort_day, CAST(d - cohort_day AS INT) AS day_offset,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM e JOIN firsts USING (user_id)
      |GROUP BY cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  // ── ev3: per-user daily gap-fill ─────────────────────────────────────
  /** Zero-filled per-user daily activity: each user's own [first, last]
    * day span is expanded with `sequence()` + explode and left-joined
    * against the observed daily counts. Both sides shuffle once on
    * user_id; the expansion is bounded by the span (retention window),
    * never by the event count — the gap-fill a time-series store does
    * before resampling/forecasting. */
  def ev3Gapfill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val daily = e.groupBy("user_id", "d")
      .agg(count(lit(1)).as("n_events"))
    val days = e.groupBy("user_id")
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("d"))
    days.join(daily, Seq("user_id", "d"), "left")
      .select(col("user_id"), col("d"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("user_id", "d")
  }

  val ev3Sql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |daily AS (
      |  SELECT user_id, d, COUNT(*) AS n_events FROM e GROUP BY 1, 2),
      |spans AS (
      |  SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM e GROUP BY user_id),
      |days AS (
      |  SELECT user_id,
      |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM spans)
      |SELECT days.user_id, days.d,
      |  COALESCE(daily.n_events, 0) AS n_events
      |FROM days LEFT JOIN daily
      |  ON days.user_id = daily.user_id AND days.d = daily.d
      |ORDER BY days.user_id, days.d""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q4_order_priority", q4OrderPriority, q4Sql),
    QuerySpec("q8_market_share", q8MarketShare, q8Sql),
    QuerySpec("q19_discounted_revenue", q19DiscountedRevenue, q19Sql),
    QuerySpec("q21_waiting_suppliers", q21WaitingSuppliers, q21Sql),
    QuerySpec("q22_global_sales", q22GlobalSales, q22Sql),
    QuerySpec("ev2_retention", ev2Retention, ev2Sql),
    QuerySpec("ev3_gapfill", ev3Gapfill, ev3Sql))
}
