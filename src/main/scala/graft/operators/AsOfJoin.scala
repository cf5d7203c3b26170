package graft.operators

import graft.{QueryModule, QuerySpec}
import graft.sources.ChangeFeed
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each left row, the most recent right row with
  * `rightTime <= leftTime` on the same key. The canonical "operator
  * Spark lacks" (guide's preference order): implemented by COMPOSING
  * built-ins — tag-union both sides, then an ignore-nulls `last` over a
  * (key, time, tag) window carries the latest right values forward into
  * each left row. One shuffle on the key, no range-join explosion:
  * cost is sort-within-partition, the same shape DuckDB's native ASOF
  * uses. A custom `SparkStrategy` is unnecessary.
  */
object AsOfJoin extends QueryModule {

  /** Left as-of join. `rightCols` are the right-side columns to carry;
    * they surface with an `asof_` prefix (null where no right row
    * precedes the left row). Ties (equal times) match, like ASOF's
    * `>=`. */
  // the right row image is carried as ONE struct, not per-column:
  // carrying columns independently with ignoreNulls would stitch
  // together values from different right rows whenever the latest
  // right row holds a null in one of them
  private def taggedUnion(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightCols: Seq[String])
      : DataFrame = {
    val lTagged = left
      .withColumn("__t", col(leftTime)).withColumn("__tag", lit(1))
      .withColumn("__r", lit(null).cast(
        org.apache.spark.sql.types.StructType(rightCols.map(c =>
          org.apache.spark.sql.types.StructField(c,
            right.schema(c).dataType)))))
    val rTagged = right.select(
      col(key), col(rightTime).as("__t"), lit(0).as("__tag"),
      struct(rightCols.map(col): _*).as("__r"))
    lTagged.select(
        (col(key) +: col("__t") +: col("__tag") +: col("__r") +:
          left.columns.filterNot(_ == key).map(col)): _*)
      .unionByName(rTagged, allowMissingColumns = true)
  }

  private def unpack(carried: DataFrame, rightCols: Seq[String])
      : DataFrame =
    rightCols.foldLeft(carried.filter(col("__tag") === 1)) { (df, c) =>
        df.withColumn(s"asof_$c", col("__r")(c))
      }
      .drop("__t", "__tag", "__r")

  def leftAsOf(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightCols: Seq[String])
      : DataFrame = {
    val unioned = taggedUnion(left, right, key, leftTime, rightTime,
      rightCols)
    // right rows (__tag 0) sort before left rows at equal times → a
    // same-timestamp right row is visible to the left row (>= match)
    val w = Window.partitionBy(key).orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unpack(unioned
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w)),
      rightCols)
  }

  /** FORWARD as-of: for each left row, the EARLIEST right row with
    * `rightTime >= leftTime` on the same key (pandas
    * `merge_asof(direction='forward')`) — "what happened next": next
    * purchase after a click, next error after a deploy. Same one-key-
    * shuffle composition as [[leftAsOf]], with the window walked in
    * DESCENDING time so the carry holds the nearest FOLLOWING right
    * row. `toleranceUs` bounds the look-ahead (`merge_asof` tolerance):
    * a carried row further than the bound nulls out — evaluated on the
    * carried struct, so no extra join or shuffle. The time columns are
    * epoch-micros longs. */
  def leftAsOfForward(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightCols: Seq[String],
      toleranceUs: Option[Long] = None): DataFrame = {
    val unioned = taggedUnion(left, right, key, leftTime, rightTime,
      rightCols)
    // DESC time: right rows at the same instant still sort before the
    // left row (__tag 0 < 1), so a same-timestamp right row matches
    val w = Window.partitionBy(key).orderBy(col("__t").desc, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
    val bounded = toleranceUs match {
      case Some(tol) => carried.withColumn("__r",
        when(col("__r")(rightTime) <= col("__t") + lit(tol), col("__r")))
      case None => carried
    }
    unpack(bounded, rightCols)
  }

  /** For every purchase, the user's most recent prior (or same-instant)
    * click — a CDC-flavored as-of: "state of X when Y happened". */
  def ajAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val feed = ChangeFeed.fromEvents(spark, dir)
    val purchases = feed.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val clicks = feed.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("click_ts_us"),
        col("event_id").as("click_event_id"))
    leftAsOf(purchases, clicks, "user_id", "ts_us", "click_ts_us",
      Seq("click_ts_us", "click_event_id"))
      .select("user_id", "event_id", "ts_us", "asof_click_ts_us",
        "asof_click_event_id")
      .orderBy("event_id")
  }

  /** Oracle: DuckDB's native ASOF LEFT JOIN — an independent
    * implementation of the same semantics.
    *
    * Caveat mirrored deliberately: when several right rows share the
    * exact boundary timestamp the winner is implementation-defined, so
    * the probe keys are (user, ts) pairs where click timestamps are
    * unique per user (true of this dataset: ns-derived micros). */
  val ajSql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |purch AS (
       |  SELECT user_id, event_id, ts_us FROM feed
       |  WHERE event_type = 'purchase'),
       |clicks AS (
       |  SELECT user_id, ts_us AS click_ts_us, event_id AS click_event_id
       |  FROM feed WHERE event_type = 'click')
       |SELECT purch.user_id, purch.event_id, purch.ts_us,
       |  clicks.click_ts_us AS asof_click_ts_us,
       |  clicks.click_event_id AS asof_click_event_id
       |FROM purch ASOF LEFT JOIN clicks
       |  ON purch.user_id = clicks.user_id
       |  AND purch.ts_us >= clicks.click_ts_us
       |ORDER BY event_id""".stripMargin

  /** Time-to-convert: for every click, the user's NEXT purchase within
    * 24 h (forward as-of with tolerance) and the conversion delay. */
  def aj2AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val feed = ChangeFeed.fromEvents(spark, dir)
    val clicks = feed.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val purchases = feed.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("p_ts_us"),
        col("event_id").as("p_event_id"))
    leftAsOfForward(clicks, purchases, "user_id", "ts_us", "p_ts_us",
      Seq("p_ts_us", "p_event_id"), toleranceUs = Some(86400000000L))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("asof_p_ts_us"), col("asof_p_event_id"),
        (col("asof_p_ts_us") - col("ts_us")).as("convert_us"))
      .orderBy("event_id")
  }

  /** Oracle: an INDEPENDENT formulation — candidate join bounded by the
    * tolerance, ranked per click, earliest kept. (DuckDB ASOF only
    * binds the nearest row without a tolerance bound, so the windowed
    * form is the reference here; purchase timestamps are unique per
    * user, so "earliest" is well-defined.) */
  val aj2Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |clicks AS (
       |  SELECT user_id, event_id, ts_us FROM feed
       |  WHERE event_type = 'click'),
       |purch AS (
       |  SELECT user_id, ts_us AS p_ts_us, event_id AS p_event_id
       |  FROM feed WHERE event_type = 'purchase'),
       |cand AS (
       |  SELECT c.event_id, p.p_ts_us, p.p_event_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.event_id
       |      ORDER BY p.p_ts_us, p.p_event_id) AS rn
       |  FROM clicks c JOIN purch p
       |    ON p.user_id = c.user_id AND p.p_ts_us >= c.ts_us
       |    AND p.p_ts_us <= c.ts_us + 86400000000)
       |SELECT c.user_id, c.event_id, c.ts_us,
       |  n.p_ts_us AS asof_p_ts_us, n.p_event_id AS asof_p_event_id,
       |  n.p_ts_us - c.ts_us AS convert_us
       |FROM clicks c LEFT JOIN (SELECT * FROM cand WHERE rn = 1) n
       |  ON n.event_id = c.event_id
       |ORDER BY c.event_id""".stripMargin

  /** Last-touch attribution: every purchase's value credits the user's
    * most recent prior click (the marketing-analytics consumer of the
    * as-of join); per user cohort, how much revenue is attributed vs
    * organic. Money through exact cents, ratios as one division. */
  def ev8Attribution(spark: SparkSession, dir: String): DataFrame = {
    val feed = ChangeFeed.fromEvents(spark, dir)
    val purchases = feed.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        QueryUtil.cents(coalesce(col("value"), lit(0.0d)))
          .cast("long").as("cents"))
    val clicks = feed.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("click_ts_us"))
    leftAsOf(purchases, clicks, "user_id", "ts_us", "click_ts_us",
      Seq("click_ts_us"))
      .groupBy((col("user_id") % 10).as("cohort"))
      .agg(count(lit(1)).as("n_purchases"),
        count(col("asof_click_ts_us")).as("n_attributed"),
        sum(when(col("asof_click_ts_us").isNotNull, col("cents"))
          .otherwise(0L)).as("attributed_cents"),
        sum(when(col("asof_click_ts_us").isNull, col("cents"))
          .otherwise(0L)).as("organic_cents"))
      .withColumn("attributed_frac",
        col("n_attributed").cast("double") /
          col("n_purchases").cast("double"))
      .orderBy("cohort")
  }

  val ev8Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |purch AS (
       |  SELECT user_id, ts_us,
       |    CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT) AS cents
       |  FROM feed WHERE event_type = 'purchase'),
       |clicks AS (
       |  SELECT user_id, ts_us AS click_ts_us FROM feed
       |  WHERE event_type = 'click'),
       |attrib AS (
       |  SELECT p.user_id, p.cents, c.click_ts_us
       |  FROM purch p ASOF LEFT JOIN clicks c
       |    ON p.user_id = c.user_id AND p.ts_us >= c.click_ts_us)
       |SELECT user_id % 10 AS cohort, COUNT(*) AS n_purchases,
       |  COUNT(click_ts_us) AS n_attributed,
       |  CAST(SUM(CASE WHEN click_ts_us IS NOT NULL THEN cents ELSE 0 END)
       |    AS BIGINT) AS attributed_cents,
       |  CAST(SUM(CASE WHEN click_ts_us IS NULL THEN cents ELSE 0 END)
       |    AS BIGINT) AS organic_cents,
       |  CAST(COUNT(click_ts_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS attributed_frac
       |FROM attrib GROUP BY cohort ORDER BY cohort""".stripMargin

  /** Time-BOUNDED funnel: view → click within 1 h → purchase within
    * 24 h of the click, per user — the realistic funnel
    * ([[graft.operators.RelationalExt.ev1Funnel]]'s order-only variant
    * has no deadline). Built by CHAINING two forward as-of joins with
    * tolerances: each stage is one key shuffle, so the whole funnel
    * costs two — no event×event interval join ever forms. Per-cohort
    * conversion fractions are single exact-integer divisions. */
  def ev9BoundedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val feed = ChangeFeed.fromEvents(spark, dir)
    val views = feed.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val clicks = feed.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("c_ts_us"))
    val purchases = feed.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("p_ts_us"))
    val step1 = leftAsOfForward(views, clicks, "user_id", "ts_us",
      "c_ts_us", Seq("c_ts_us"), toleranceUs = Some(3600000000L))
    val clicked = step1.filter(col("asof_c_ts_us").isNotNull)
    val step2 = leftAsOfForward(clicked, purchases, "user_id",
      "asof_c_ts_us", "p_ts_us", Seq("p_ts_us"),
      toleranceUs = Some(86400000000L))
    val funnel = step1.select(col("user_id"), col("event_id"),
        col("asof_c_ts_us"))
      .join(step2.select(col("event_id"),
        col("asof_p_ts_us")), Seq("event_id"), "left")
    funnel.groupBy((col("user_id") % 10).as("cohort"))
      .agg(count(lit(1)).as("n_views"),
        count(col("asof_c_ts_us")).as("n_clicked"),
        count(col("asof_p_ts_us")).as("n_purchased"))
      .withColumn("click_rate", col("n_clicked").cast("double") /
        col("n_views").cast("double"))
      .withColumn("purchase_rate", col("n_purchased").cast("double") /
        col("n_views").cast("double"))
      .orderBy("cohort")
  }

  val ev9Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |views AS (
       |  SELECT user_id, event_id, ts_us FROM feed
       |  WHERE event_type = 'view'),
       |clicks AS (
       |  SELECT user_id, ts_us AS c_ts_us FROM feed
       |  WHERE event_type = 'click'),
       |purch AS (
       |  SELECT user_id, ts_us AS p_ts_us FROM feed
       |  WHERE event_type = 'purchase'),
       |s1 AS (
       |  SELECT v.user_id, v.event_id, v.ts_us, n.c_ts_us FROM views v
       |  LEFT JOIN (
       |    SELECT event_id, c_ts_us FROM (
       |      SELECT v.event_id, c.c_ts_us, ROW_NUMBER() OVER (
       |        PARTITION BY v.event_id ORDER BY c.c_ts_us) AS rn
       |      FROM views v JOIN clicks c
       |        ON c.user_id = v.user_id AND c.c_ts_us >= v.ts_us
       |        AND c.c_ts_us <= v.ts_us + 3600000000)
       |    WHERE rn = 1) n ON n.event_id = v.event_id),
       |s2 AS (
       |  SELECT s1.event_id, n.p_ts_us FROM s1
       |  LEFT JOIN (
       |    SELECT event_id, p_ts_us FROM (
       |      SELECT s1.event_id, p.p_ts_us, ROW_NUMBER() OVER (
       |        PARTITION BY s1.event_id ORDER BY p.p_ts_us) AS rn
       |      FROM s1 JOIN purch p
       |        ON p.user_id = s1.user_id AND p.p_ts_us >= s1.c_ts_us
       |        AND p.p_ts_us <= s1.c_ts_us + 86400000000
       |      WHERE s1.c_ts_us IS NOT NULL)
       |    WHERE rn = 1) n ON n.event_id = s1.event_id)
       |SELECT s1.user_id % 10 AS cohort, COUNT(*) AS n_views,
       |  COUNT(s1.c_ts_us) AS n_clicked,
       |  COUNT(s2.p_ts_us) AS n_purchased,
       |  CAST(COUNT(s1.c_ts_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS click_rate,
       |  CAST(COUNT(s2.p_ts_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS purchase_rate
       |FROM s1 LEFT JOIN s2 ON s2.event_id = s1.event_id
       |GROUP BY cohort ORDER BY cohort""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("aj_asof_join", ajAsofJoin, ajSql),
    QuerySpec("aj2_asof_forward", aj2AsofForward, aj2Sql),
    QuerySpec("ev8_attribution", ev8Attribution, ev8Sql),
    QuerySpec("ev9_bounded_funnel", ev9BoundedFunnel, ev9Sql))
}
