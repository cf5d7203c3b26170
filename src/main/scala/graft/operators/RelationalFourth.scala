package graft.operators

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryUtil._

/** Fourth relational tranche: the four TPC-H shapes (Q2/Q11/Q16/Q20)
  * that the textbook forms express over `partsupp` — a table the
  * testdata lacks — re-expressed over the supply relation the data DOES
  * carry: the distinct `(l_partkey, l_suppkey)` pairs of `lineitem`,
  * with unit price / shipped quantity standing in for supply cost /
  * availability (reference has no relational surface at all; per
  * SURVEY.md §2.5 this layer is Catalyst-provided and oracle-checked).
  * With these, every one of the 22 classic TPC-H query shapes has an
  * analog in the engine. Also adds window-function breadth (w4:
  * lag/lead/ntile/first_value in one pass) and mixed GROUPING SETS
  * (g4) — the two gaps left in the window/grouping surface.
  *
  * Scale notes: every dimension side is broadcast; lineitem is
  * filtered by broadcast joins BEFORE any aggregation, so each query
  * shuffles only the surviving fact rows, once. The per-part "minimum
  * cost" / "dominant share" cuts run as windows over the already-tiny
  * grouped supply relation, not over the fact table.
  */
object RelationalFourth extends QueryModule {

  // ── Q2 flavor: minimum-cost supplier ────────────────────────────────
  /** For each small STANDARD part, the European supplier(s) offering
    * the minimum observed unit price. Supply cost of a (part, supplier)
    * pair = MIN over their lineitems of cents(extendedprice/quantity) —
    * exact integer cents, so the per-part minimum and the equality cut
    * are bit-deterministic. Part and supplier dimensions broadcast;
    * lineitem is cut to qualifying parts × European suppliers before
    * the one grouped shuffle; the min-cost cut is a window over the
    * grouped supply relation (tiny). */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val euSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .join(broadcast(Tables.region(spark, dir)
              .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val parts = Tables.part(spark, dir)
      .filter(col("p_size") <= 10 && col("p_type") === "STANDARD")
      .select("p_partkey", "p_name")
    val supply = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_partkey", "p_name", "s_name", "n_name", "s_acctbal")
      .agg(min(cents(col("l_extendedprice") / col("l_quantity")))
        .as("cost_cents"))
    supply
      .withColumn("min_cost",
        min("cost_cents").over(Window.partitionBy("p_partkey")))
      .filter(col("cost_cents") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"),
        (col("cost_cents").cast("double") / lit(100.0d)).as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  val q2Sql: String =
    """WITH eu_supp AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'),
      |supply AS (
      |  SELECT p_partkey, p_name, s_name, n_name, s_acctbal,
      |    MIN(CAST(FLOOR(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT))
      |      AS cost_cents
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN eu_supp ON l_suppkey = s_suppkey
      |  WHERE p_size <= 10 AND p_type = 'STANDARD'
      |  GROUP BY p_partkey, p_name, s_name, n_name, s_acctbal),
      |mc AS (SELECT p_partkey, MIN(cost_cents) AS min_cost
      |       FROM supply GROUP BY p_partkey)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
      |  CAST(cost_cents AS DOUBLE) / 100.0 AS supply_cost
      |FROM supply JOIN mc USING (p_partkey)
      |WHERE cost_cents = min_cost
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin

  // ── Q11 flavor: important stock identification ──────────────────────
  /** Parts whose revenue through ASIA-region suppliers exceeds 0.1% of
    * the total such revenue. The threshold compares exact integer cents
    * by cross-multiplication (`val_cents * 1000 > total_cents`) — no
    * float fraction can round differently across engines. One semi-join
    * cut + one grouped shuffle of the fact; the total is a one-row
    * broadcast. Order by the exact cents (descending) so the presented
    * order is deterministic. */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val asiaSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter(col("n_regionkey") === 2)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val v = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"),
        "left_semi")
      .groupBy("l_partkey")
      .agg(sum(cents(col("l_extendedprice"))).as("val_cents"))
    val tot = v.agg(sum(col("val_cents")).as("total_cents"))
    v.crossJoin(broadcast(tot))
      .filter(col("val_cents") * 1000 > col("total_cents"))
      .select(col("l_partkey").as("p_partkey"),
        (col("val_cents").cast("double") / lit(100.0d)).as("part_value"))
      .orderBy(col("part_value").desc, col("p_partkey"))
  }

  val q11Sql: String =
    """WITH v AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS val_cents
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_regionkey = 2
      |  GROUP BY l_partkey),
      |tot AS (SELECT CAST(SUM(val_cents) AS BIGINT) AS total_cents FROM v)
      |SELECT l_partkey AS p_partkey,
      |  CAST(val_cents AS DOUBLE) / 100.0 AS part_value
      |FROM v, tot WHERE val_cents * 1000 > total_cents
      |ORDER BY part_value DESC, p_partkey""".stripMargin

  // ── Q16 flavor: parts/supplier relationship ─────────────────────────
  /** Distinct supplier count per (brand, type, size) over the observed
    * supply pairs, excluding one brand, one type family, non-square
    * sizes, and suppliers in deficit (the "customer complaints"
    * exclusion of textbook Q16, keyed on s_acctbal < 0 since the schema
    * has no comment column). Part filter and the (tiny) bad-supplier
    * list broadcast; the fact shuffles once for the distinct count. */
  def q16PartsSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val okPart = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val badSupp = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey")
      .join(broadcast(okPart), col("l_partkey") === col("p_partkey"))
      .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ── Q20 flavor: potential part promotion ────────────────────────────
  /** Suppliers that dominated a 'small…' part's 1997 volume: their
    * shipped quantity for some qualifying part exceeds 30% of ALL
    * suppliers' 1997 quantity for that part (textbook Q20's
    * availqty-vs-half-of-shipped cut, re-keyed on observed volumes).
    * Quantities sum as exact BIGINT; the share cut cross-multiplies
    * (`q_ps * 10 > q_p * 3`). One grouped pass over the part-filtered
    * fact; the per-part total is a window over the grouped (tiny)
    * supply relation. */
  def q20PotentialPromotion(spark: SparkSession, dir: String): DataFrame = {
    val smallParts = Tables.part(spark, dir)
      .filter(col("p_name").like("small%")).select("p_partkey")
    val sq = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00"))
      .select("l_partkey", "l_suppkey", "l_quantity")
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(intSum(col("l_quantity")).as("q_ps"))
    sq.withColumn("q_p",
        sum("q_ps").over(Window.partitionBy("l_partkey")))
      .filter(col("q_ps") * 10 > col("q_p") * 3)
      .select("l_suppkey").distinct()
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_name")
  }

  val q20Sql: String =
    """WITH sq AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q_ps
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'small%'
      |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY l_partkey, l_suppkey),
      |pt AS (SELECT l_partkey, CAST(SUM(q_ps) AS BIGINT) AS q_p
      |       FROM sq GROUP BY l_partkey)
      |SELECT DISTINCT s_suppkey, s_name, s_acctbal
      |FROM sq JOIN pt USING (l_partkey)
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE q_ps * 10 > q_p * 3
      |ORDER BY s_name""".stripMargin

  // ── w4: navigation + distribution window functions ──────────────────
  /** Per-customer order timeline in one window pass: previous/next
    * order value (lag/lead), spend quartile within the customer
    * (ntile), and first-order value (first_value). All money as exact
    * cents; the window order (o_orderdate, o_orderkey) is a total
    * order, so ntile's bucket boundaries are deterministic. One
    * shuffle on o_custkey. */
  def w4OrderNavigation(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("price_cents", cents(col("o_totalprice")))
      .select(col("o_custkey"), col("o_orderkey"), col("price_cents"),
        lag("price_cents", 1).over(w).as("prev_cents"),
        lead("price_cents", 1).over(w).as("next_cents"),
        ntile(4).over(w).as("quartile"),
        first("price_cents").over(w).as("first_cents"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val w4Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
      |  LAG(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT), 1) OVER w
      |    AS prev_cents,
      |  LEAD(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT), 1) OVER w
      |    AS next_cents,
      |  CAST(NTILE(4) OVER w AS INT) AS quartile,
      |  FIRST_VALUE(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w
      |    AS first_cents
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ── g4: mixed GROUPING SETS ─────────────────────────────────────────
  /** Mixed grouping sets — (flag, status), (flag), and grand total in
    * one pass (rollup/cube can't express an arbitrary mix; g1/g3 cover
    * those). Grouping-null keys are COALESCEd to 'ALL' so the result is
    * portable without grouping_id, whose bit layout is engine-specific.
    * Spark expands grouping sets BEFORE the shuffle (Expand + one
    * aggregate), so this stays a single-pass plan. */
  def g4GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())
        |ORDER BY rf, ls""".stripMargin)
  }

  val g4Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      |  COALESCE(l_linestatus, 'ALL') AS ls,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |                        (l_returnflag), ())
      |ORDER BY rf, ls""".stripMargin

  // ── ev4: event-sequence transition matrix ───────────────────────────
  /** Per-user consecutive event-type transitions aggregated into the
    * corpus transition matrix (the sequence-mining companion to ev1's
    * funnel: which step follows which, and for how many distinct
    * users). One shuffle on user_id for the lead() window, then one
    * small aggregate over the 5×5 type space. */
  def ev4Transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type", "next_type")
  }

  val ev4Sql: String =
    """SELECT event_type, next_type, COUNT(*) AS n_transitions,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM (
      |  SELECT user_id, event_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
      |  FROM events)
      |WHERE next_type IS NOT NULL
      |GROUP BY event_type, next_type
      |ORDER BY event_type, next_type""".stripMargin

  // ── top user journeys ───────────────────────────────────────────────
  /** The full-path complement of [[ev4Transitions]]'s pairwise matrix:
    * each user's first `steps` events in (ts, event_id) order collapse
    * to one `a>b>c` journey string, and the report is the top-`topN`
    * journeys by user count — the "what do users actually do" view a
    * funnel is a projection of. The first-K-steps selection runs on
    * the native [[graft.plans.TopKPerKey]] operator (bounded heap per
    * user) rather than a window: at stream scale a hot user's whole
    * history would otherwise sort inside WindowExec just to keep 8
    * rows. Path assembly sorts the ≤ `steps` collected structs per
    * user — O(k log k) per user, no second big sort; journey
    * cardinality is bounded by |event types|^steps in theory and tiny
    * in practice; final top-N is a TakeOrdered with the path string as
    * the deterministic tiebreak. */
  def ev10TopPaths(spark: SparkSession, dir: String, steps: Int = 8,
      topN: Int = 20): DataFrame = {
    val first = graft.plans.TopKPerKey.topKPerKey(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id")),
      keys = Seq("user_id"),
      orderBy = Seq(("ts", false), ("event_id", false)),
      k = steps, rankName = "rn")
    first.groupBy("user_id")
      .agg(concat_ws(">",
        transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_users"), min("user_id").as("example_user"))
      .orderBy(desc("n_users"), col("path"))
      .limit(topN)
  }

  def ev10Sql(steps: Int = 8, topN: Int = 20): String =
    s"""WITH ranked AS (
       |  SELECT user_id, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
       |  FROM events),
       |paths AS (
       |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM ranked WHERE rn <= $steps GROUP BY user_id)
       |SELECT path, COUNT(*) AS n_users, MIN(user_id) AS example_user
       |FROM paths GROUP BY path
       |ORDER BY n_users DESC, path LIMIT $topN""".stripMargin

  // ── event-volume anomaly scoring ────────────────────────────────────
  /** Expanding-window z-score of daily event volume per type — the
    * monitoring query behind "did clicks spike today?". Each day is
    * scored against the mean/variance of all PRECEDING days, so the
    * score never peeks at its own value.
    *
    * Reproducibility: the statistics are NOT Spark's `stddev` (whose
    * partition-order-dependent accumulation isn't comparable across
    * engines); they are assembled from exact integer window sums
    * (Σn, Σn², count) with one explicit double formula — every
    * division/sqrt is a single correctly-rounded IEEE op in the same
    * order in both engines, so even the z-scores hash-match. Volume is
    * aggregated to (type, day) BEFORE any window runs: the windows see
    * ~150 rows, never the raw stream. */
  def ev5Anomaly(spark: SparkSession, dir: String,
      threshold: Double = 2.0): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = col("c_prev").cast("double")
    val s = col("s_prev").cast("double")
    val ss = col("ss_prev").cast("double")
    val mean = s / c
    val variance = (ss - s * s / c) / (c - lit(1.0d))
    val z = (col("n").cast("double") - mean) / sqrt(variance)
    Tables.events(spark, dir)
      .withColumn("day",
        QueryUtil.floorDiv(expr("unix_micros(ts)"), 86400000000L))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"))
      .withColumn("c_prev", count(lit(1)).over(w))
      .withColumn("s_prev", sum("n").over(w))
      .withColumn("ss_prev", sum(col("n") * col("n")).over(w))
      // the positive-variance guard multiplies in DOUBLE: sum(n)^2 and
      // sum(n^2)*count wrap silently in non-ANSI int64 at large daily
      // volumes while DuckDB raises; the double products are the same
      // single IEEE op in both engines, so the guard stays hash-stable
      .withColumn("z",
        when(col("c_prev") >= 2 && ss * c > s * s, z))
      .select(col("event_type"), col("day"), col("n"), col("z"),
        (col("z").isNotNull && abs(col("z")) > threshold)
          .as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  def ev5Sql(threshold: Double = 2.0): String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
       |    COUNT(*) AS n
       |  FROM events GROUP BY event_type, day),
       |stats AS (
       |  SELECT event_type, day, n,
       |    COUNT(*) OVER prev AS c_prev,
       |    SUM(n) OVER prev AS s_prev,
       |    SUM(n * n) OVER prev AS ss_prev
       |  FROM daily
       |  WINDOW prev AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |scored AS (
       |  SELECT event_type, day, n,
       |    CASE WHEN c_prev >= 2
       |        AND CAST(ss_prev AS DOUBLE) * CAST(c_prev AS DOUBLE)
       |          > CAST(s_prev AS DOUBLE) * CAST(s_prev AS DOUBLE)
       |      THEN (CAST(n AS DOUBLE) - CAST(s_prev AS DOUBLE)
       |              / CAST(c_prev AS DOUBLE))
       |        / sqrt((CAST(ss_prev AS DOUBLE)
       |                - CAST(s_prev AS DOUBLE) * CAST(s_prev AS DOUBLE)
       |                  / CAST(c_prev AS DOUBLE))
       |               / (CAST(c_prev AS DOUBLE) - 1.0))
       |    END AS z
       |  FROM stats)
       |SELECT event_type, day, n, z,
       |  z IS NOT NULL AND abs(z) > $threshold AS is_anomaly
       |FROM scored ORDER BY event_type, day""".stripMargin

  // ── exponentially weighted moving average ───────────────────────────
  /** EWMA of daily event volume per type (α = 0.25) — the smoothed
    * trend line next to [[ev5Anomaly]]'s z-scores. The smoothing
    * recurrence `s ← s·0.75 + n·0.25` is inherently ORDERED, which is
    * exactly what makes naive double aggregation engine-divergent; here
    * both engines run the identical fold in the identical order: Spark
    * folds a day-sorted collected array with `aggregate` (two products
    * and one sum per step, each a single correctly-rounded IEEE op;
    * 0.75/0.25 are binary-exact), DuckDB walks the same recurrence via
    * a recursive CTE — so every intermediate EWMA hash-matches.
    *
    * Scale: volume reduces to (type, day) with map-side partials BEFORE
    * any collect; the fold state is O(days-per-type) — bounded model
    * state, like IVF centroids — never the raw stream. */
  def ev6Ewma(spark: SparkSession, dir: String): DataFrame = {
    val step = (acc: Column, s: Column) => concat(acc, array(
      when(size(acc) === 0, s.getField("n").cast("double"))
        .otherwise(element_at(acc, -1) * lit(0.75d) +
          s.getField("n").cast("double") * lit(0.25d))))
    Tables.events(spark, dir)
      .withColumn("day",
        QueryUtil.floorDiv(expr("unix_micros(ts)"), 86400000000L))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("n"))))
        .as("ds"))
      .withColumn("ewmas",
        aggregate(col("ds"), lit(Array.empty[Double]), step))
      .select(col("event_type"),
        explode(arrays_zip(col("ds"), col("ewmas"))).as("z"))
      .select(col("event_type"), col("z.ds.day").as("day"),
        col("z.ds.n").as("n"), col("z.ewmas").as("ewma"))
      .orderBy("event_type", "day")
  }

  val ev6Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    COUNT(*) AS n
      |  FROM events GROUP BY event_type, day),
      |idx AS (
      |  SELECT event_type, day, n, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY day) AS i
      |  FROM daily),
      |walk AS (
      |  SELECT event_type, day, n, i, CAST(n AS DOUBLE) AS ewma
      |  FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT x.event_type, x.day, x.n, x.i,
      |    w.ewma * 0.75 + CAST(x.n AS DOUBLE) * 0.25
      |  FROM walk w JOIN idx x
      |    ON x.event_type = w.event_type AND x.i = w.i + 1)
      |SELECT event_type, day, n, ewma FROM walk
      |ORDER BY event_type, day""".stripMargin

  // ── CUSUM changepoint detection ─────────────────────────────────────
  /** One-sided CUSUM over daily event volume per type — the
    * "did the level SHIFT (not just spike)?" monitor that completes
    * the trio with [[ev5Anomaly]] (point anomalies) and [[ev6Ewma]]
    * (trend): `g ← max(0, g + (n − μ₀ − κ))`, alarming when g exceeds
    * 5κ. The baseline μ₀ is the mean of the first 7 observed days
    * (exact integer sum, ONE division) and the slack κ = μ₀/10 —
    * both single correctly-rounded ops, so the whole fold is
    * engine-exact like the EWMA: Spark folds the day-sorted collected
    * array, DuckDB walks the identical recurrence in a recursive CTE,
    * and every intermediate statistic hash-matches. Volume reduces to
    * (type, day) before anything else runs. */
  def ev7Cusum(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("day",
        QueryUtil.floorDiv(expr("unix_micros(ts)"), 86400000000L))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("n"))))
        .as("ds"))
      .withColumn("mu",
        expr("cast(aggregate(slice(ds, 1, 7), 0L, (a, x) -> a + x.n) " +
          "as double)") /
          least(size(col("ds")), lit(7)).cast("double"))
      .withColumn("k", col("mu") / lit(10.0d))
      .withColumn("gs", expr(
        "aggregate(ds, cast(array() as array<double>), (acc, x) -> " +
          "concat(acc, array(greatest(0.0D, " +
          "if(size(acc) = 0, 0.0D, element_at(acc, -1)) " +
          "+ (cast(x.n as double) - mu - k)))))"))
      .select(col("event_type"), col("mu"), col("k"),
        explode(arrays_zip(col("ds"), col("gs"))).as("z"))
      .select(col("event_type"), col("z.ds.day").as("day"),
        col("z.ds.n").as("n"), col("z.gs").as("cusum"),
        (col("z.gs") > col("k") * lit(5.0d)).as("is_shift"))
      .orderBy("event_type", "day")

  val ev7Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    COUNT(*) AS n
      |  FROM events GROUP BY event_type, day),
      |idx AS (
      |  SELECT event_type, day, n, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY day) AS i
      |  FROM daily),
      |base AS (
      |  SELECT event_type,
      |    CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
      |  FROM idx WHERE i <= 7 GROUP BY event_type),
      |walk AS (
      |  SELECT x.event_type, x.day, x.n, x.i, b.mu, b.mu / 10.0 AS k,
      |    GREATEST(0.0, 0.0 + (CAST(x.n AS DOUBLE) - b.mu - b.mu / 10.0))
      |      AS g
      |  FROM idx x JOIN base b ON b.event_type = x.event_type
      |  WHERE x.i = 1
      |  UNION ALL
      |  SELECT x.event_type, x.day, x.n, x.i, w.mu, w.k,
      |    GREATEST(0.0, w.g + (CAST(x.n AS DOUBLE) - w.mu - w.k))
      |  FROM walk w JOIN idx x
      |    ON x.event_type = w.event_type AND x.i = w.i + 1)
      |SELECT event_type, day, n, g AS cusum, g > k * 5.0 AS is_shift
      |FROM walk ORDER BY event_type, day""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("ev6_ewma", ev6Ewma, ev6Sql),
    QuerySpec("ev7_cusum", ev7Cusum, ev7Sql),
    QuerySpec("q2_min_cost_supplier", q2MinCostSupplier, q2Sql),
    QuerySpec("q11_important_stock", q11ImportantStock, q11Sql),
    QuerySpec("q16_parts_suppliers", q16PartsSuppliers, q16Sql),
    QuerySpec("q20_potential_promotion", q20PotentialPromotion, q20Sql),
    QuerySpec("w4_order_navigation", w4OrderNavigation, w4Sql),
    QuerySpec("g4_grouping_sets", g4GroupingSets, g4Sql),
    QuerySpec("ev4_transitions", ev4Transitions, ev4Sql),
    QuerySpec("ev10_top_paths", (s, d) => ev10TopPaths(s, d), ev10Sql()),
    QuerySpec("ev5_anomaly", (s, d) => ev5Anomaly(s, d), ev5Sql()))
}
