package graft.operators

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SQL entry point of the engine: queries authored as SQL text and
  * run through `spark.sql` over registered views — exercising the
  * parser/analyzer path and Catalyst's subquery decorrelation, which
  * the DataFrame-built queries don't touch. The same SQL (modulo
  * dialect) is the oracle, so parser-level semantics are verified too.
  */
object RelationalSql extends QueryModule {

  private def withViews(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }

  /** Correlated scalar subquery: each customer's maximal order(s).
    * Catalyst decorrelates this into an aggregate + join. Equality on
    * the raw double is engine-safe (same parquet values both sides). */
  def q15CorrelatedMax(spark: SparkSession, dir: String): DataFrame = {
    withViews(spark, dir)
    spark.sql(
      """SELECT o_custkey, o_orderkey,
        |  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        |FROM orders o
        |WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  val q15Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      |FROM orders o
      |WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
      |                      WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Correlated aggregate with exact arithmetic (TPC-H Q17 flavor):
    * lineitems far below their part's average quantity. The average is
    * an exact integer sum over an exact count, divided once in double —
    * deterministic in both engines. */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    withViews(spark, dir)
    spark.sql(
      """SELECT l_partkey, COUNT(*) AS n_small,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_small
        |FROM lineitem l
        |WHERE l_quantity < 0.5 * (
        |  SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE)
        |           / COUNT(*)
        |  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY l_partkey
        |ORDER BY l_partkey""".stripMargin)
  }

  val q17Sql: String =
    """SELECT l_partkey, COUNT(*) AS n_small,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_small
      |FROM lineitem l
      |WHERE l_quantity < 0.5 * (
      |  SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE)
      |           / COUNT(*)
      |  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      |GROUP BY l_partkey
      |ORDER BY l_partkey""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q15_correlated_max", q15CorrelatedMax, q15Sql),
    QuerySpec("q17_small_quantity", q17SmallQuantity, q17Sql))
}
