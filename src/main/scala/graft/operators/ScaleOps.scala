package graft.operators

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryUtil._

/** Scale techniques as reusable operators (builder brief: "salting for
  * skew", "bucketing for co-located joins"). These don't change query
  * results — they change shuffle shape, which is what breaks first at
  * 100 TB. Correctness is locked by result-equivalence tests; plan
  * shape by `ScaleOpsSpec`.
  */
object ScaleOps extends QueryModule {

  /** Skew-busting salted join: a hot key on the big side lands on one
    * reducer in a plain hash join. Salting splits each big-side key
    * into `saltFactor` sub-keys and replicates the small side per salt,
    * so the hot key spreads over `saltFactor` reducers.
    *
    * The salt is derived from a hash of the whole big-side row (via
    * xxhash64 over all columns) — deterministic, no RNG state.
    * AQE's skew-join handles moderate skew automatically; explicit
    * salting is for the pathological keys AQE's split threshold misses.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val bigSalted = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col): _*), lit(saltFactor)).cast("int"))
    val smallReplicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    bigSalted.join(smallReplicated,
        Seq(key, "__salt"), "inner")
      .drop("__salt")
  }

  /** Persist a table bucketed+sorted on its join key. Two tables
    * bucketed the same way join WITHOUT a shuffle — at 100 TB this is
    * the difference between re-shuffling the fact table per query and
    * a local merge per bucket. */
  def writeBucketed(df: DataFrame, tableName: String, key: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(tableName)

  /** Join two same-bucketed tables; with matching bucket specs Catalyst
    * plans a shuffle-free sort-merge join. */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key))

  /** Revenue by supplier nation through the SALTED join — the skew
    * pattern exercised at the query surface with a hash-verified
    * result: the oracle is the plain join, so the salt provably
    * changes only the shuffle shape, never the answer. The supplier
    * side replicates 8× (1k rows → 8k: dimension replication is the
    * cheap side of the trade); a pathological l_suppkey now spreads
    * over 8 reducers instead of melting one. Nation stays a plain
    * broadcast — salting composes with the usual dimension joins. */
  def j4SaltedSkew(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    val joined = saltedJoin(Tables.lineitem(spark, dir), supp,
      "l_suppkey", saltFactor = 8)
    joined.join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        sum(cents(col("l_extendedprice"))).cast("long").as("revenue_cents"))
      .orderBy("n_name")
  }

  val j4Sql: String =
    """SELECT n_name, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |    AS BIGINT) AS revenue_cents
      |FROM lineitem
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Top-3 orders per customer through the native
    * [[graft.plans.TopKPerKey]] operator — semantically identical to
    * the window query `w2_top_orders` (deliberately the SAME oracle
    * SQL), but the physical plan replaces WindowExec's per-partition
    * full sort with one bounded heap per key: O(k) memory per key, no
    * sort buffer, no spill path, same single hash exchange. At 100 TB
    * this is the difference between sorting the fact table and
    * streaming it. */
  def w9NativeTopk(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
        Tables.orders(spark, dir)
          .select(col("o_custkey"), col("o_orderkey"),
            cents(col("o_totalprice")).as("price_cents")),
        keys = Seq("o_custkey"),
        orderBy = Seq(("price_cents", true), ("o_orderkey", false)),
        k = 3)
      .orderBy("o_custkey", "rk")

  val w9Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents, rk
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
      |             o_orderkey) AS rk
      |  FROM orders)
      |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("j4_salted_skew", j4SaltedSkew, j4Sql),
    QuerySpec("w9_native_topk", w9NativeTopk, w9Sql))
}
