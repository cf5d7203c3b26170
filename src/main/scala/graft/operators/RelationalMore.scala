package graft.operators

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryUtil._

/** Second tranche of TPC-H-flavor relational coverage (Q7/Q9/Q10/Q13/
  * Q14 adapted to the testdata schema — no partsupp/shipmode/comment
  * columns, so the join graphs are faithful and the filters use the
  * columns that exist). Same plan discipline as [[Relational]]:
  * dimensions broadcast, facts shuffle once on their join key, money
  * through integer cents, every query ends in a total order.
  */
object RelationalMore extends QueryModule {

  // ── Q7 flavor: volume shipping between two nations ──────────────────
  /** Bilateral trade volume: lineitem⋈supplier⋈orders⋈customer with
    * UNALIASED nation dimension joined twice (supplier side and
    * customer side), filtered to the two trading nations in either
    * direction, grouped by (supp_nation, cust_nation, year). All four
    * dimensions broadcast; only lineitem⋈orders shuffles. */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00"))
    li.join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INT) AS l_year,
      |    l_extendedprice, l_discount
      |  FROM lineitem
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // ── Q9 flavor: product-type profit by nation and year ───────────────
  /** Revenue on a part-name pattern, attributed to the supplier's
    * nation per order year (the testdata has no partsupp, so the
    * supplycost term of real Q9 is dropped — the join graph
    * part⋈lineitem⋈supplier⋈orders⋈nation is intact). */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_name").contains("widget"))
      .select("p_partkey")
    Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
        .as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9Sql: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_profit
      |FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY n_name, o_year
      |ORDER BY n_name, o_year DESC""".stripMargin

  // ── Q10 flavor: returned-item reporting ─────────────────────────────
  /** Top-20 customers by revenue lost to returns in one quarter.
    * customer/nation broadcast; orders⋈lineitem shuffles on orderkey;
    * top-k via TakeOrderedAndProject. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-10-01 00:00:00") &&
        col("o_orderdate") < lit("1997-01-01 00:00:00"))
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"),
        cents(col("c_acctbal")).as("acctbal_cents"), col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name,
      |  CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents,
      |  n_name,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY c_custkey, c_name, acctbal_cents, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  // ── Q13 flavor: customer order-count distribution ───────────────────
  /** Histogram of orders-per-customer (non-urgent orders only — the
    * testdata lacks o_comment, real Q13's filter column). LEFT join
    * keeps zero-order customers; the double aggregation is two
    * shuffles, the second over a tiny histogram. */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    // aggregate orders BEFORE the outer join: the per-customer counts
    // are customer-cardinality (small), so they broadcast into the
    // preserved customer side — the raw orders table never rides
    // through the join, and customer itself never shuffles
    val perCust = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(spark, dir)
      .join(broadcast(perCust), col("c_custkey") === col("o_custkey"),
        "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN (
      |    SELECT o_orderkey, o_custkey FROM orders
      |    WHERE o_orderpriority <> '1-URGENT') o
      |    ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ── Q14 flavor: promotion effect ────────────────────────────────────
  /** Share of one month's revenue from PROMO-typed parts: conditional
    * integer cents on both sides of a single double division — one
    * row, exact. */
  def q14PromoEffect(spark: SparkSession, dir: String): DataFrame = {
    val promo = sum(when(col("p_type") === "PROMO",
      cents(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))))
      .otherwise(lit(0L)))
    val total = sum(cents(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01 00:00:00") &&
        col("l_shipdate") < lit("1996-04-01 00:00:00"))
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .agg(promo.as("promo_cents"), total.as("total_cents"),
        (promo.cast("double") * lit(100.0d) / total.cast("double"))
          .as("promo_revenue_pct"))
  }

  val q14Sql: String =
    """SELECT
      |  CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)
      |    ELSE 0 END) AS BIGINT) AS promo_cents,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
      |  CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)
      |    ELSE 0 END) AS DOUBLE) * 100.0
      |    / CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |    AS promo_revenue_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin

  // ── Q12 flavor: shipping delay by priority ──────────────────────────
  /** Late-shipment accounting (the testdata has no l_shipmode /
    * commitdate, so the Q12 pivot runs on o_orderpriority and
    * "late" = shipped more than 90 days after the order date —
    * interval arithmetic on exact timestamp micros, engine-portable).
    * One fact shuffle on the order key; conditional counts are
    * map-side combined. */
  def q12ShippingDelay(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00"))
      .select("l_orderkey", "l_shipdate")
    li.join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
          .otherwise(0L)).as("late_lines"),
        count(lit(1)).as("n_lines"))
      .orderBy("o_orderpriority")
  }

  val q12Sql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
      |    THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
      |  COUNT(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ── Q18 flavor: large-volume customers ──────────────────────────────
  /** Orders whose total quantity exceeds a threshold, with their
    * customers — the aggregate-then-semi-join shape: the HAVING
    * aggregate runs map-side-combined on lineitem, its (small) result
    * broadcasts into the orders join, so the fact table is scanned
    * once and never re-shuffled. Top-100 via TakeOrderedAndProject. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(intSum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    Tables.orders(spark, dir)
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_date"),
        cents(col("o_totalprice")).as("price_cents"), col("sum_qty"))
      .orderBy(col("price_cents").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18Sql: String =
    """SELECT c_custkey, c_name, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS o_date,
      |  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
      |  sum_qty
      |FROM orders
      |  JOIN (SELECT l_orderkey,
      |          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |        FROM lineitem GROUP BY l_orderkey
      |        HAVING SUM(CAST(l_quantity AS BIGINT)) > 150) big
      |    ON o_orderkey = big.l_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |ORDER BY price_cents DESC, o_orderkey
      |LIMIT 100""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q12_shipping_delay", q12ShippingDelay, q12Sql),
    QuerySpec("q18_large_orders", q18LargeOrders, q18Sql),
    QuerySpec("q7_volume_shipping", q7VolumeShipping, q7Sql),
    QuerySpec("q9_product_profit", q9ProductProfit, q9Sql),
    QuerySpec("q10_returned_items", q10ReturnedItems, q10Sql),
    QuerySpec("q13_customer_distribution", q13CustomerDistribution, q13Sql),
    QuerySpec("q14_promo_effect", q14PromoEffect, q14Sql))
}
