package graft.operators

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryUtil._

/** The relational query surface over the CDC lake (SURVEY.md §2.5, §7.2
  * step 8). The reference has no relational algebra of its own — these
  * come "for free" from Catalyst — but they are the headline queries the
  * engine is benchmarked on, so the plans matter:
  *
  *  - filters are plain column predicates → pushed to the parquet scan;
  *  - small dimensions (region/nation/customer/supplier) are broadcast
  *    (Catalyst picks broadcast-hash below the 10 MB threshold; we hint
  *    explicitly so the plan survives a 100× fact-table scale-up where
  *    size estimates might drift);
  *  - aggregation is declared via groupBy/agg → partial (map-side)
  *    aggregation + single shuffle on the group keys;
  *  - top-k is orderBy+limit → Spark's TakeOrderedAndProject (no global
  *    sort materialization).
  */
object Relational extends QueryModule {

  /** Pricing summary (TPC-H Q1 flavor): one scan, one shuffle on a
    * 6-group key. At 100 TB the partial aggregation collapses each map
    * task's output to ≤6 rows, so the shuffle is negligible. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        intSum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
          .as("sum_disc_price"),
        moneySum(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))
          * (lit(1.0d) + col("l_tax"))).as("sum_charge"),
        (intSum(col("l_quantity")).cast("double") /
          count(lit(1)).cast("double")).as("avg_qty"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        (sum(cents(col("l_discount"))).cast("double") / lit(100.0d) /
          count(lit(1)).cast("double")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_price,
      |  CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Shipping priority (TPC-H Q3 flavor): two joins + group + top-10.
    * customer is the small side → broadcast; orders⋈lineitem shuffles on
    * the order key once and the same key carries into the aggregation. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-01-01 00:00:00"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-01-01 00:00:00"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
        .as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
      |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** Local-supplier revenue (TPC-H Q5 flavor): 6-way join. region→nation→
    * customer/supplier are tiny → all broadcast; only orders⋈lineitem
    * shuffles. The c_nationkey = s_nationkey co-location predicate is the
    * TPC-H twist. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00") &&
        col("o_orderdate") < lit("1997-01-01 00:00:00"))
    val li = Tables.lineitem(spark, dir)

    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Forecast revenue (TPC-H Q6 flavor): scan + tight filter + single
    * global sum. All three predicates push to the parquet reader; the
    * aggregate is a 2-stage partial+final with one row of shuffle. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") >= lit("1996-01-01 00:00:00") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00") &&
        col("l_discount") >= lit(0.03d) && col("l_discount") <= lit(0.07d) &&
        col("l_quantity") < lit(24.0d))
      .agg(moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"))
  }

  val q6Sql: String =
    """SELECT
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.03 AND l_discount <= 0.07
      |  AND l_quantity < 24.0""".stripMargin

  /** The relational queries with their oracles, listed by SparkEntry. */
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_summary", q1PricingSummary, q1Sql),
    QuerySpec("q3_shipping_priority", q3ShippingPriority, q3Sql),
    QuerySpec("q5_local_supplier", q5LocalSupplier, q5Sql),
    QuerySpec("q6_forecast_revenue", q6ForecastRevenue, q6Sql))
}
