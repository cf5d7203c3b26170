package graft.operators

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryUtil._

/** Extended relational surface (SURVEY.md §2.5): the join/aggregate/
  * window/set-op/scalar-function operators the reference lacks entirely
  * and Catalyst provides — declared here as oracle-checked queries so
  * the engine's query surface is verified, not assumed.
  *
  * Determinism idioms as in [[Relational]]: money through integer
  * cents; ties broken by unique keys; ratios as single double
  * divisions.
  */
object RelationalExt extends QueryModule {

  // ── window functions ────────────────────────────────────────────────
  /** Running per-customer order total (cumulative window). One shuffle
    * on o_custkey; the frame is rows-unbounded-preceding so each
    * partition streams in sorted order — no buffering blowup at scale. */
  def w1RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir).select(
      col("o_custkey"), col("o_orderkey"),
      col("o_orderdate").cast("date").as("o_date"),
      sum(cents(col("o_totalprice"))).over(w).as("running_cents"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val w1Sql: String =
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Top-3 orders per customer by price (rank window + filter —
    * Spark turns this into a per-partition top-k, no global sort). */
  def w2TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(cents(col("o_totalprice")).desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"),
        col("rk").cast("long").as("rk")) // DuckDB ROW_NUMBER() is BIGINT
      .orderBy("o_custkey", "rk")
  }

  val w2Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents, rk
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
      |             o_orderkey) AS rk
      |  FROM orders)
      |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin

  /** Trailing 30-day revenue per customer — a RANGE frame over the
    * integer epoch-day of the order date (value-based frames behave
    * identically on exact integers in both engines, unlike timestamp
    * frames with tz semantics). Same one-shuffle-per-key shape as w1. */
  def w3RangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_epoch_day")
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("o_epoch_day", // NTZ parquet date → UTC-pinned micros
        expr("unix_micros(to_utc_timestamp(o_orderdate, 'UTC')) " +
          "div 86400000000L"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_epoch_day"),
        sum(cents(col("o_totalprice"))).over(w).as("trailing30_cents"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val w3Sql: String =
    """SELECT o_custkey, o_orderkey, o_epoch_day,
      |  CAST(SUM(price_cents) OVER (PARTITION BY o_custkey ORDER BY o_epoch_day
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing30_cents
      |FROM (
      |  SELECT o_custkey, o_orderkey,
      |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS o_epoch_day,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      |  FROM orders)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ── grouping sets / rollup ──────────────────────────────────────────
  /** ROLLUP over (returnflag, linestatus): subtotal + grand-total rows
    * with NULL group keys, exact integer measures. */
  def g1Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), intSum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val g1Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Exact distinct counts, global and per group. */
  def g2DistinctCount(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val g2Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ── set operations ──────────────────────────────────────────────────
  /** INTERSECT / EXCEPT between the customer key space and the keys
    * that actually ordered — planned as ONE flag-fold pass: `intersect`
    * + `except` cost two distinct-aggregates plus a semi and an anti
    * join (four shuffles, both inputs scanned twice); tagging each row
    * with its side and reducing `max(flag)` per key is a single key
    * shuffle with map-side partials and identical set semantics (the
    * groupBy supplies the DISTINCT both set ops imply). */
  def set1Ops(spark: SparkSession, dir: String): DataFrame = {
    val custKeys = Tables.customer(spark, dir)
      .select(col("c_custkey"), lit(1).as("is_cust"), lit(0).as("is_buyer"))
    val buyers = Tables.orders(spark, dir)
      .select(col("o_custkey").as("c_custkey"),
        lit(0).as("is_cust"), lit(1).as("is_buyer"))
    custKeys.unionByName(buyers)
      .groupBy("c_custkey")
      .agg(max("is_cust").as("is_cust"), max("is_buyer").as("is_buyer"))
      .filter(col("is_cust") === 1)
      .withColumn("tag", when(col("is_buyer") === 1, lit("with_orders"))
        .otherwise(lit("no_orders")))
      .groupBy("tag").agg(count(lit(1)).as("n"),
        min("c_custkey").as("min_key"))
      .orderBy("tag")
  }

  val set1Sql: String =
    """WITH with_orders AS (
      |  SELECT c_custkey FROM customer
      |  INTERSECT SELECT o_custkey FROM orders),
      |no_orders AS (
      |  SELECT c_custkey FROM customer
      |  EXCEPT SELECT o_custkey FROM orders)
      |SELECT tag, COUNT(*) AS n, MIN(c_custkey) AS min_key FROM (
      |  SELECT c_custkey, 'with_orders' AS tag FROM with_orders
      |  UNION ALL SELECT c_custkey, 'no_orders' AS tag FROM no_orders)
      |GROUP BY tag ORDER BY tag""".stripMargin

  // ── semi / anti joins (EXISTS / NOT EXISTS) ─────────────────────────
  def j1SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    val cust = Tables.customer(spark, dir)
    val withUrgent = cust.join(urgent,
        cust("c_custkey") === urgent("o_custkey"), "left_semi")
      .withColumn("tag", lit("has_urgent"))
    val withoutUrgent = cust.join(urgent,
        cust("c_custkey") === urgent("o_custkey"), "left_anti")
      .withColumn("tag", lit("no_urgent"))
    withUrgent.unionByName(withoutUrgent)
      .groupBy("tag", "c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("tag", "c_mktsegment")
  }

  val j1Sql: String =
    """SELECT tag, c_mktsegment, COUNT(*) AS n FROM (
      |  SELECT c.*, 'has_urgent' AS tag FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |  UNION ALL
      |  SELECT c.*, 'no_urgent' AS tag FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'))
      |GROUP BY tag, c_mktsegment ORDER BY tag, c_mktsegment""".stripMargin

  // ── CUBE ────────────────────────────────────────────────────────────
  /** CUBE over (returnflag, linestatus): all 4 grouping combinations. */
  def g3Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), intSum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val g3Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ── PIVOT ───────────────────────────────────────────────────────────
  /** Pivot event counts into one column per event type (fixed value
    * list on both sides — the oracle uses conditional aggregation,
    * which is what pivot compiles to anyway). */
  def p14Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("cohort", (col("user_id") % 10).cast("int"))
      .groupBy("cohort")
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("cohort")

  val p14Sql: String =
    """SELECT CAST(user_id % 10 AS INT) AS cohort,
      |  COUNT(*) FILTER (event_type = 'click') AS click,
      |  COUNT(*) FILTER (event_type = 'error') AS error,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY cohort ORDER BY cohort""".stripMargin

  // ── UNPIVOT (melt to long format) ───────────────────────────────────
  /** Unpivot the four lineitem measures into (metric, value) rows, then
    * profile each metric — the wide→long reshape feeding any
    * metric-generic downstream (monitoring, histogramming). Uses the
    * native `Dataset.unpivot` operator (planned as one Expand — a
    * narrow 4× row fan-out, no shuffle) feeding a partially-aggregated
    * profile, so at 100 TB the reshape never materializes: the combine
    * happens map-side inside the same stage as the scan. Measures are
    * quantized to exact integers first (cents / basis points) so the
    * profile sums are associative and engine-exact. */
  def p15Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).cast("long").as("price_cents"),
        floor(col("l_discount") * lit(10000.0d) + lit(0.5d)).cast("long")
          .as("disc_bp"),
        floor(col("l_tax") * lit(10000.0d) + lit(0.5d)).cast("long")
          .as("tax_bp"))
      .unpivot(Array.empty, Array(col("qty"), col("price_cents"),
        col("disc_bp"), col("tax_bp")), "metric", "v")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"))
      .orderBy("metric")

  val p15Sql: String =
    """WITH base AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
      |    CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT) AS disc_bp,
      |    CAST(FLOOR(l_tax * 10000 + 0.5) AS BIGINT) AS tax_bp
      |  FROM lineitem),
      |long AS (
      |  SELECT 'qty' AS metric, qty AS v FROM base
      |  UNION ALL SELECT 'price_cents', price_cents FROM base
      |  UNION ALL SELECT 'disc_bp', disc_bp FROM base
      |  UNION ALL SELECT 'tax_bp', tax_bp FROM base)
      |SELECT metric, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v,
      |  MIN(v) AS min_v, MAX(v) AS max_v
      |FROM long GROUP BY metric ORDER BY metric""".stripMargin

  // ── JSON extraction ─────────────────────────────────────────────────
  /** JSON path extraction from the props column (the oracle mirrors the
    * value via a regex so it does not depend on DuckDB's json
    * extension being loadable offline). */
  def f2JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  val f2Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ── date functions ──────────────────────────────────────────────────
  def d1DateBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("rev_cents"))
      .orderBy("yr", "mo")

  val d1Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(month(o_orderdate) AS INT) AS mo, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS rev_cents
      |FROM orders GROUP BY yr, mo ORDER BY yr, mo""".stripMargin

  // ── range (inequality) join ─────────────────────────────────────────
  /** Bounded-interval self-join: pairs of same-user events within 10
    * minutes. The equi-key (user_id) carries the hash join; the
    * interval predicate filters inside the partition, so the plan never
    * degrades to a broadcast-nested-loop over the full corpus — the
    * range-join shape that survives scale. */
  def r1RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.ChangeFeed.fromEvents(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
    ev.alias("a").join(ev.alias("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.event_id") < col("b.event_id") &&
        col("b.ts_us") >= col("a.ts_us") - 600000000L &&
        col("b.ts_us") <= col("a.ts_us") + 600000000L)
      .groupBy(col("a.user_id").as("user_id"))
      .agg(count(lit(1)).as("n_close_pairs"))
      .orderBy("user_id")
  }

  val r1Sql: String =
    s"""WITH feed AS (${graft.sources.ChangeFeed.feedSql})
       |SELECT a.user_id, COUNT(*) AS n_close_pairs
       |FROM feed a JOIN feed b
       |  ON a.user_id = b.user_id AND a.event_id < b.event_id
       |  AND b.ts_us >= a.ts_us - 600000000
       |  AND b.ts_us <= a.ts_us + 600000000
       |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin

  // ── funnel analysis ─────────────────────────────────────────────────
  /** Sequential conversion funnel over the event stream: per user, the
    * first view, the first click AT OR AFTER that view, the first
    * purchase at or after that click — order-respecting stage
    * attribution (a click before any view doesn't count), the classic
    * product-analytics operator. Three aggregates over the feed with
    * per-user equi-joins; exact integer micros throughout. */
  def ev1Funnel(spark: SparkSession, dir: String): DataFrame = {
    val feed = graft.sources.ChangeFeed.fromEvents(spark, dir)
      .select("user_id", "event_type", "ts_us")
    val views = feed.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("t_view"))
    val clicks = feed.filter(col("event_type") === "click")
      .join(views, "user_id")
      .filter(col("ts_us") >= col("t_view"))
      .groupBy("user_id").agg(min("ts_us").as("t_click"))
    val purchases = feed.filter(col("event_type") === "purchase")
      .join(clicks, "user_id")
      .filter(col("ts_us") >= col("t_click"))
      .groupBy("user_id").agg(min("ts_us").as("t_purchase"))
    views
      .join(clicks, Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .otherwise(1).as("stage"),
        col("t_view"),
        coalesce(col("t_click"), lit(-1L)).as("t_click"),
        coalesce(col("t_purchase"), lit(-1L)).as("t_purchase"))
      .orderBy("user_id")
  }

  val ev1Sql: String =
    s"""WITH feed AS (${graft.sources.ChangeFeed.feedSql}),
       |v AS (SELECT user_id, MIN(ts_us) AS t_view FROM feed
       |      WHERE event_type = 'view' GROUP BY user_id),
       |c AS (SELECT f.user_id, MIN(f.ts_us) AS t_click
       |      FROM feed f JOIN v USING (user_id)
       |      WHERE f.event_type = 'click' AND f.ts_us >= v.t_view
       |      GROUP BY f.user_id),
       |p AS (SELECT f.user_id, MIN(f.ts_us) AS t_purchase
       |      FROM feed f JOIN c USING (user_id)
       |      WHERE f.event_type = 'purchase' AND f.ts_us >= c.t_click
       |      GROUP BY f.user_id)
       |SELECT v.user_id,
       |  CASE WHEN p.t_purchase IS NOT NULL THEN 3
       |       WHEN c.t_click IS NOT NULL THEN 2 ELSE 1 END AS stage,
       |  v.t_view,
       |  COALESCE(c.t_click, -1) AS t_click,
       |  COALESCE(p.t_purchase, -1) AS t_purchase
       |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
       |ORDER BY user_id""".stripMargin

  // ── integer math / bitwise scalar library ───────────────────────────
  /** Math + bitwise scalar functions over exact integers (float
    * transcendentals — pow/exp/log — are deliberately excluded from the
    * oracle surface: libm rounding is not engine-portable). */
  def m1IntMath(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"),
      abs(col("user_id") - 750).as("abs_centered"),
      pmod(col("user_id") - 750, lit(13)).as("pmod13"),
      (col("user_id") % 13).as("rem13"),
      col("event_id").bitwiseAND(col("user_id")).as("band"),
      col("event_id").bitwiseOR(col("user_id")).as("bor"),
      col("event_id").bitwiseXOR(col("user_id")).as("bxor"),
      shiftleft(col("event_id"), 3).as("shl3"),
      shiftright(col("event_id"), 2).as("shr2"),
      greatest(col("event_id"), col("user_id")).as("gmax"),
      least(col("event_id"), col("user_id")).as("lmin"))
      .orderBy("event_id")

  val m1Sql: String =
    """SELECT event_id,
      |  abs(user_id - 750) AS abs_centered,
      |  (((user_id - 750) % 13) + 13) % 13 AS pmod13,
      |  user_id % 13 AS rem13,
      |  event_id & user_id AS band,
      |  event_id | user_id AS bor,
      |  xor(event_id, user_id) AS bxor,
      |  event_id << 3 AS shl3,
      |  event_id >> 2 AS shr2,
      |  greatest(event_id, user_id) AS gmax,
      |  least(event_id, user_id) AS lmin
      |FROM events ORDER BY event_id""".stripMargin

  // ── string scalar library ───────────────────────────────────────────
  def str1Functions(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      upper(col("c_name")).as("uname"),
      substring(col("c_name"), 1, 8).as("prefix"),
      lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
      regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
      length(col("c_name")).as("name_len"),
      instr(col("c_name"), "1").as("first_one"))
      .orderBy("c_custkey")

  val str1Sql: String =
    """SELECT c_custkey, UPPER(c_name) AS uname,
      |  substring(c_name, 1, 8) AS prefix,
      |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
      |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
      |  CAST(length(c_name) AS INT) AS name_len,
      |  CAST(instr(c_name, '1') AS INT) AS first_one
      |FROM customer ORDER BY c_custkey""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("w1_running_total", w1RunningTotal, w1Sql),
    QuerySpec("w2_top_orders", w2TopOrders, w2Sql),
    QuerySpec("w3_range_window", w3RangeWindow, w3Sql),
    QuerySpec("g1_rollup", g1Rollup, g1Sql),
    QuerySpec("g2_distinct_count", g2DistinctCount, g2Sql),
    QuerySpec("g3_cube", g3Cube, g3Sql),
    QuerySpec("p14_pivot", p14Pivot, p14Sql),
    QuerySpec("p15_unpivot", p15Unpivot, p15Sql),
    QuerySpec("set1_intersect_except", set1Ops, set1Sql),
    QuerySpec("j1_semi_anti", j1SemiAnti, j1Sql),
    QuerySpec("f2_json_extract", f2JsonExtract, f2Sql),
    QuerySpec("d1_date_buckets", d1DateBuckets, d1Sql),
    QuerySpec("ev1_funnel", ev1Funnel, ev1Sql),
    QuerySpec("m1_int_math", m1IntMath, m1Sql),
    QuerySpec("r1_range_join", r1RangeJoin, r1Sql),
    QuerySpec("str1_functions", str1Functions, str1Sql))
}
