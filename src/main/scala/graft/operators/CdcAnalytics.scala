package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.ChangeFeed
import graft.util.Checkpoints.StageOps

/** Warehouse views a CDC consumer derives from the replicated change
  * stream — the layer every user of the reference builds by hand
  * downstream of its Kafka topics (reference emits the raw mutation
  * feed, `mypipe-kafka/.../KafkaMutationAvroProducer.scala`; turning
  * it into queryable history is the consumer's job, made first-class
  * here).
  *
  *  - [[scd2History]]: Slowly-Changing-Dimension type 2 — every row
  *    image with its validity interval `[valid_from, valid_to)`.
  *  - [[ivmDeltaAgg]]: incremental view maintenance — a grouped
  *    aggregate maintained from signed mutation deltas (+new − old)
  *    without rescanning the base table.
  *
  * Scale notes: both are one shuffle on the entity key (the window
  * partition), and IVM's signed deltas then partial-aggregate
  * map-side into the (much smaller) group key — at 100 TB the delta
  * stream is the only input, never the accumulated base.
  */
object CdcAnalytics extends QueryModule {

  /** Per-entity history order: the binlog total order restricted to
    * one primary key (commit ts, then file position). */
  private val hist =
    Window.partitionBy("user_id").orderBy("ts_us", "event_id")

  // ── SCD Type-2 history ──────────────────────────────────────────────
  /** Each non-delete image is valid from its own commit until the next
    * mutation of the same PK; the last image (if not deleted) is
    * current with an open interval. One `lead` window — one shuffle on
    * the PK, no self-join. */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    ChangeFeed.fromEvents(spark, dir)
      .withColumn("valid_to_us", lead("ts_us", 1).over(hist))
      .filter(col("op") =!= "delete")
      .select(col("user_id"), col("event_id"), col("op"),
        coalesce(QueryUtil.cents(col("value")), lit(0L)).as("value_cents"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "valid_from_us", "event_id")

  val scd2Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql})
       |SELECT user_id, event_id, op,
       |  COALESCE(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), 0) AS value_cents,
       |  ts_us AS valid_from_us, valid_to_us,
       |  valid_to_us IS NULL AS is_current
       |FROM (
       |  SELECT *, LEAD(ts_us) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id) AS valid_to_us
       |  FROM feed)
       |WHERE op <> 'delete'
       |ORDER BY user_id, valid_from_us, event_id""".stripMargin

  // ── Incremental view maintenance ────────────────────────────────────
  /** Maintain `(n_live, sum_value_cents)` per cohort (user_id bucket)
    * from mutation deltas alone: each mutation contributes
    * `new − previous` where a delete's new contribution is zero. The
    * maintained view equals a full aggregate over the latest images
    * ([[TxOps.t9LatestImage]]) but is computable from the delta stream
    * incrementally — sum of signed deltas is associative, so Spark
    * partial-aggregates map-side and a micro-batch's deltas fold into
    * a stored view with `+`. */
  def ivmDeltaAgg(spark: SparkSession, dir: String): DataFrame = {
    val contrib = when(col("op") === "delete", lit(0L))
      .otherwise(coalesce(QueryUtil.cents(col("value")), lit(0L)))
    // liveness is a STATE, so its delta is state − previous state (a
    // first-seen update opens the entity; a delete after a delete is
    // net zero; a post-delete update resurrects) — op-based ±1 would
    // miscount all three
    val isLive = when(col("op") === "delete", lit(0L)).otherwise(lit(1L))
    ChangeFeed.fromEvents(spark, dir)
      .withColumn("contrib", contrib)
      .withColumn("is_live", isLive)
      .withColumn("delta_cents",
        col("contrib") - coalesce(lag("contrib", 1).over(hist), lit(0L)))
      .withColumn("delta_live",
        col("is_live") - coalesce(lag("is_live", 1).over(hist), lit(0L)))
      .groupBy(pmod(col("user_id"), lit(100L)).as("cohort"))
      .agg(sum("delta_live").as("n_live"),
        sum("delta_cents").as("sum_value_cents"))
      // groups whose live count fell to zero are GC'd from the view
      // (n_live = 0 forces sum = 0 too): the maintained view is then
      // pointwise equal to an aggregate over the surviving base rows
      .filter(col("n_live") > 0)
      .orderBy("cohort")
  }

  val ivmSql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |contribs AS (
       |  SELECT user_id,
       |    CASE WHEN op = 'delete' THEN 0
       |         ELSE COALESCE(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), 0)
       |    END AS contrib,
       |    CASE WHEN op = 'delete' THEN 0 ELSE 1 END AS is_live,
       |    ts_us, event_id
       |  FROM feed),
       |deltas AS (
       |  SELECT user_id,
       |    is_live - COALESCE(LAG(is_live) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id), 0) AS delta_live,
       |    contrib - COALESCE(LAG(contrib) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id), 0) AS delta_cents
       |  FROM contribs)
       |SELECT user_id % 100 AS cohort,
       |  CAST(SUM(delta_live) AS BIGINT) AS n_live,
       |  CAST(SUM(delta_cents) AS BIGINT) AS sum_value_cents
       |FROM deltas GROUP BY cohort
       |HAVING SUM(delta_live) > 0 ORDER BY cohort""".stripMargin

  // ── Batch MERGE (upsert-apply) ──────────────────────────────────────
  /** The consumer-side MERGE: apply the post-cutoff slice of the change
    * feed onto the materialized state at the cutoff, reporting per-key
    * provenance (kept / updated / inserted / deleted) — the
    * `MERGE INTO` a warehouse runs per micro-batch of the reference's
    * Kafka feed.
    *
    * Join-free: both the state-at-cutoff and the latest delta reduce in
    * ONE grouped pass as conditional `max(struct(ts, seq, …))`
    * aggregates (struct ordering = the history order, nulls ignored),
    * so the whole merge costs a single shuffle on the PK with map-side
    * partial aggregation — at 100 TB there is no base×delta join, no
    * second shuffle, no window. No-ops (deletes of absent keys, keys
    * whose whole history is pre-cutoff deletes) emit nothing. */
  private val CutUs = 1705363200000000L // 2024-01-16T00:00:00Z

  def mergeApply(spark: SparkSession, dir: String): DataFrame = {
    // event_id is unique per the ChangeFeed.fromEvents contract, so the
    // struct ordering never reaches (op, value); the oracle's
    // (ts_us DESC, event_id DESC) ROW_NUMBER picks the identical row
    val img = struct(col("ts_us"), col("event_id"), col("op"), col("value"))
    val agg = ChangeFeed.fromEvents(spark, dir)
      .groupBy("user_id")
      .agg(max(when(col("ts_us") <= CutUs, img)).as("base"),
        max(when(col("ts_us") > CutUs, img)).as("delta"))
    val liveBefore =
      col("base").isNotNull && col("base.op") =!= "delete"
    val beforeCents =
      when(liveBefore, QueryUtil.cents(coalesce(col("base.value"), lit(0.0d))))
    val action = when(col("delta").isNull, lit("kept"))
      .when(col("delta.op") === "delete", lit("deleted"))
      .when(liveBefore, lit("updated"))
      .otherwise(lit("inserted"))
    val afterCents = when(col("delta").isNull, beforeCents)
      .when(col("delta.op") === "delete", lit(null).cast("long"))
      .otherwise(QueryUtil.cents(coalesce(col("delta.value"), lit(0.0d))))
    agg
      // emit only keys the merge touches or keeps live
      .filter(liveBefore ||
        (col("delta").isNotNull && col("delta.op") =!= "delete"))
      .select(col("user_id"), action.as("action"),
        beforeCents.as("before_cents"), afterCents.as("after_cents"),
        coalesce(col("delta.ts_us"), col("base.ts_us")).as("ts_us"))
      .orderBy("user_id")
  }

  val mergeSql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |base AS (
       |  SELECT user_id, op, value, ts_us FROM (
       |    SELECT user_id, op, value, ts_us, ROW_NUMBER() OVER (
       |      PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
       |    FROM feed WHERE ts_us <= $CutUs) WHERE rn = 1),
       |delta AS (
       |  SELECT user_id, op, value, ts_us FROM (
       |    SELECT user_id, op, value, ts_us, ROW_NUMBER() OVER (
       |      PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
       |    FROM feed WHERE ts_us > $CutUs) WHERE rn = 1),
       |m AS (
       |  SELECT COALESCE(b.user_id, d.user_id) AS user_id,
       |    b.op IS NOT NULL AND b.op <> 'delete' AS live_before,
       |    CASE WHEN b.op IS NOT NULL AND b.op <> 'delete'
       |      THEN CAST(FLOOR(COALESCE(b.value, 0) * 100 + 0.5) AS BIGINT)
       |    END AS before_cents,
       |    d.op AS dop, d.value AS dvalue,
       |    COALESCE(d.ts_us, b.ts_us) AS ts_us
       |  FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id)
       |SELECT user_id,
       |  CASE WHEN dop IS NULL THEN 'kept'
       |       WHEN dop = 'delete' THEN 'deleted'
       |       WHEN live_before THEN 'updated'
       |       ELSE 'inserted' END AS action,
       |  before_cents,
       |  CASE WHEN dop IS NULL THEN before_cents
       |       WHEN dop = 'delete' THEN NULL
       |       ELSE CAST(FLOOR(COALESCE(dvalue, 0) * 100 + 0.5) AS BIGINT)
       |  END AS after_cents,
       |  ts_us
       |FROM m
       |WHERE live_before OR (dop IS NOT NULL AND dop <> 'delete')
       |ORDER BY user_id""".stripMargin

  // ── point-in-time (time-travel) read ────────────────────────────────
  /** The state of every live entity AS OF a timestamp — the time-travel
    * read the SCD2 history answers per-entity, answered corpus-wide:
    * latest image ≤ T per PK, deletes excluded. One conditional
    * struct-max grouped pass (same join-free shape as [[mergeApply]]);
    * a real deployment runs this against the compacted lake + tail of
    * the feed. */
  def asofState(spark: SparkSession, dir: String,
      cutUs: Long = CutUs): DataFrame = {
    val img = struct(col("ts_us"), col("event_id"), col("op"), col("value"))
    ChangeFeed.fromEvents(spark, dir)
      .filter(col("ts_us") <= cutUs)
      .groupBy("user_id")
      .agg(max(img).as("s"))
      .filter(col("s.op") =!= "delete")
      .select(col("user_id"), col("s.event_id").as("event_id"),
        QueryUtil.cents(coalesce(col("s.value"), lit(0.0d)))
          .as("value_cents"),
        col("s.ts_us").as("as_of_ts_us"))
      .orderBy("user_id")
  }

  val asofSql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |latest AS (
       |  SELECT user_id, event_id, op, value, ts_us FROM (
       |    SELECT user_id, event_id, op, value, ts_us, ROW_NUMBER() OVER (
       |      PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
       |    FROM feed WHERE ts_us <= $CutUs) WHERE rn = 1)
       |SELECT user_id, event_id,
       |  CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT)
       |    AS value_cents,
       |  ts_us AS as_of_ts_us
       |FROM latest WHERE op <> 'delete' ORDER BY user_id""".stripMargin

  // ── mutation-volume accounting ──────────────────────────────────────
  /** The replication-operations dashboard: per table per day, mutation
    * counts by kind plus running cumulative totals — what an operator
    * of the reference watches to spot write storms and delete surges.
    * One grouped aggregate to day granularity, then windows over the
    * (tiny) per-day rollup — the raw feed is never windowed. */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    val day = Window.partitionBy("tbl").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ChangeFeed.fromEvents(spark, dir)
      .withColumn("day", QueryUtil.floorDiv(col("ts_us"), 86400000000L))
      .groupBy("tbl", "day")
      .agg(count(when(col("op") === "insert", 1)).as("n_ins"),
        count(when(col("op") === "update", 1)).as("n_upd"),
        count(when(col("op") === "delete", 1)).as("n_del"))
      .withColumn("cum_mutations",
        sum(col("n_ins") + col("n_upd") + col("n_del")).over(day))
      .withColumn("cum_net", sum(col("n_ins") - col("n_del")).over(day))
      .orderBy("tbl", "day")
  }

  val tableStatsSql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |daily AS (
       |  SELECT tbl, ts_us // 86400000000 AS day,
       |    COUNT(CASE WHEN op = 'insert' THEN 1 END) AS n_ins,
       |    COUNT(CASE WHEN op = 'update' THEN 1 END) AS n_upd,
       |    COUNT(CASE WHEN op = 'delete' THEN 1 END) AS n_del
       |  FROM feed GROUP BY tbl, day)
       |SELECT tbl, day, n_ins, n_upd, n_del,
       |  CAST(SUM(n_ins + n_upd + n_del) OVER (PARTITION BY tbl
       |    ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS cum_mutations,
       |  CAST(SUM(n_ins - n_del) OVER (PARTITION BY tbl
       |    ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_net
       |FROM daily ORDER BY tbl, day""".stripMargin

  // ── IVM for a JOIN view ─────────────────────────────────────────────
  /** Incremental maintenance of a JOIN view — the delta-join algebra
    * that [[ivmDeltaAgg]]'s single-table form does not cover. The view
    * is revenue per market segment over orders⋈customer; a batch of
    * inserts arrives on BOTH sides (modeled as the 10% of keys with
    * `key % 10 = 0`). The refresh computes only the three delta terms
    *
    *   ΔV = ΔO⋈C_base  ∪  O_base⋈ΔC  ∪  ΔO⋈ΔC
    *
    * and folds them into the stored view — the base⋈base join is
    * NEVER re-run (it is localCheckpointed here, standing in for the
    * materialized view on disk). Every delta term has a small side,
    * so all three plan as broadcast joins: per refresh the work is
    * O(|Δ|), not O(|base|) — the property that makes a continuously
    * maintained 100 TB join view affordable. The oracle recomputes
    * the view from scratch on the full tables: identical results
    * prove the delta algebra exact. */
  def ivmJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, dir)
      .select(col("o_custkey"), QueryUtil.cents(col("o_totalprice"))
        .cast("long").as("cents"), (col("o_orderkey") % 10 === 0)
        .as("is_delta"))
    val cust = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_custkey") % 10 === 0).as("is_delta"))
    val oBase = orders.filter(!col("is_delta")).drop("is_delta")
    val oDelta = orders.filter(col("is_delta")).drop("is_delta")
    val cBase = cust.filter(!col("is_delta")).drop("is_delta")
    val cDelta = cust.filter(col("is_delta")).drop("is_delta")
    def term(o: DataFrame, c: DataFrame): DataFrame =
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("revenue_cents"))
    // the stored view: computed once, read per refresh
    val vBase = term(oBase, cBase).stageCheckpoint()
    vBase.unionByName(term(oDelta, broadcast(cBase)))
      .unionByName(term(oBase, broadcast(cDelta)))
      .unionByName(term(oDelta, broadcast(cDelta)))
      .groupBy("c_mktsegment")
      .agg(sum("n_orders").as("n_orders"),
        sum("revenue_cents").as("revenue_cents"))
      .orderBy("c_mktsegment")
  }

  val ivmJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |    AS BIGINT) AS revenue_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ── feed order audit ────────────────────────────────────────────────
  /** The monotonicity AUDIT a CDC operator runs before trusting
    * event-time logic: per table, how many events regress behind the
    * running commit-ts maximum in LOG order, and by how much at worst.
    * On a healthy ordered feed every row reads zero — that IS the
    * certificate (the reference's whole consistency model is log
    * order, SURVEY §2.4); on a disordered feed the max regression is
    * exactly the watermark slack `withWatermark` needs. The spec
    * plants regressions and asserts the audit finds precisely them.
    * One window per table in log order, fraction as one division. */
  def orderAudit(feed: DataFrame): DataFrame = {
    val w = Window.partitionBy("tbl").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    feed
      .withColumn("prev_max", max("ts_us").over(w))
      .withColumn("lag_us",
        when(col("prev_max") > col("ts_us"),
          col("prev_max") - col("ts_us")).otherwise(0L))
      .groupBy("tbl")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("lag_us") > 0, 1)).as("n_disordered"),
        max("lag_us").as("max_disorder_us"))
      .withColumn("disorder_frac", col("n_disordered").cast("double") /
        col("n_events").cast("double"))
      .orderBy("tbl")
  }

  def disorderStats(spark: SparkSession, dir: String): DataFrame =
    orderAudit(ChangeFeed.fromEvents(spark, dir))

  val disorderSql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |lagged AS (
       |  SELECT tbl, ts_us,
       |    MAX(ts_us) OVER (PARTITION BY tbl ORDER BY event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS prev_max
       |  FROM feed),
       |scored AS (
       |  SELECT tbl,
       |    CASE WHEN prev_max > ts_us THEN prev_max - ts_us ELSE 0 END
       |      AS lag_us
       |  FROM lagged)
       |SELECT tbl, COUNT(*) AS n_events,
       |  COUNT(CASE WHEN lag_us > 0 THEN 1 END) AS n_disordered,
       |  CAST(MAX(lag_us) AS BIGINT) AS max_disorder_us,
       |  CAST(COUNT(CASE WHEN lag_us > 0 THEN 1 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS disorder_frac
       |FROM scored GROUP BY tbl ORDER BY tbl""".stripMargin

  // ── training-feature generation ─────────────────────────────────────
  /** Point-in-time-correct feature rows from the event stream — the
    * feature-store export: per (user, event) in history order, lagged
    * values, a trailing-3 mean, a one-hot of the event type, and the
    * NEXT value as the label. Every feature reads strictly BEFORE the
    * label (no leakage: lags and the trailing window end at the
    * current row; the label is the lead), which is the property
    * feature stores exist to enforce. One window per user — the
    * standard per-key shuffle — money as exact cents, the trailing
    * mean as one division of integer sums. */
  def fe1LagFeatures(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val trail = w.rowsBetween(-2, 0)
    val cents = QueryUtil.cents(coalesce(col("value"), lit(0.0d)))
      .cast("long")
    ChangeFeed.fromEvents(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"), cents.as("v_cents"))
      .withColumn("lag1_cents", lag("v_cents", 1).over(w))
      .withColumn("lag2_cents", lag("v_cents", 2).over(w))
      .withColumn("trail3_mean_cents",
        sum("v_cents").over(trail).cast("double") /
          count(lit(1)).over(trail).cast("double"))
      .withColumn("is_view", (col("event_type") === "view").cast("int"))
      .withColumn("is_click", (col("event_type") === "click").cast("int"))
      .withColumn("is_purchase",
        (col("event_type") === "purchase").cast("int"))
      .withColumn("label_next_cents", lead("v_cents", 1).over(w))
      .filter(col("label_next_cents").isNotNull)
      .select(col("user_id"), col("event_id"), col("v_cents"),
        col("lag1_cents"), col("lag2_cents"), col("trail3_mean_cents"),
        col("is_view"), col("is_click"), col("is_purchase"),
        col("label_next_cents"))
      .orderBy("user_id", "event_id")
  }

  val fe1Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |base AS (
       |  SELECT user_id, event_id, ts_us, event_type,
       |    CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT)
       |      AS v_cents
       |  FROM feed),
       |feats AS (
       |  SELECT user_id, event_id, v_cents,
       |    LAG(v_cents, 1) OVER w AS lag1_cents,
       |    LAG(v_cents, 2) OVER w AS lag2_cents,
       |    CAST(SUM(v_cents) OVER t AS DOUBLE)
       |      / CAST(COUNT(*) OVER t AS DOUBLE) AS trail3_mean_cents,
       |    CAST(event_type = 'view' AS INT) AS is_view,
       |    CAST(event_type = 'click' AS INT) AS is_click,
       |    CAST(event_type = 'purchase' AS INT) AS is_purchase,
       |    LEAD(v_cents, 1) OVER w AS label_next_cents
       |  FROM base
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id),
       |    t AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
       |SELECT user_id, event_id, v_cents, lag1_cents, lag2_cents,
       |  trail3_mean_cents, is_view, is_click, is_purchase,
       |  label_next_cents
       |FROM feats WHERE label_next_cents IS NOT NULL
       |ORDER BY user_id, event_id""".stripMargin

  /** Leave-one-out target encoding of the event type against the
    * value label — the categorical encoder that actually ships
    * (a naive per-category mean ENCODES THE ROW'S OWN LABEL and leaks;
    * leave-one-out subtracts it: `(Σ − own) / (n − 1)`). Group sums
    * are exact integer cents broadcast back onto the rows, the
    * encoding is one division, and single-member categories emit NULL
    * (no peer evidence) rather than a leaked self-mean. */
  def fe2TargetEncoding(spark: SparkSession, dir: String): DataFrame = {
    val cents = QueryUtil.cents(coalesce(col("value"), lit(0.0d)))
      .cast("long")
    val rows = ChangeFeed.fromEvents(spark, dir)
      .select(col("event_id"), col("event_type"), cents.as("v_cents"))
    val stats = rows.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_cents").as("s"))
    rows.join(broadcast(stats), "event_type")
      .withColumn("te_loo_cents",
        when(col("n") > 1, (col("s") - col("v_cents")).cast("double") /
          (col("n") - 1).cast("double")))
      .select(col("event_id"), col("event_type"), col("v_cents"),
        col("te_loo_cents"))
      .orderBy("event_id")
  }

  val fe2Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |rows_ AS (
       |  SELECT event_id, event_type,
       |    CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT)
       |      AS v_cents
       |  FROM feed),
       |stats AS (
       |  SELECT event_type, COUNT(*) AS n,
       |    CAST(SUM(v_cents) AS BIGINT) AS s
       |  FROM rows_ GROUP BY event_type)
       |SELECT event_id, r.event_type, v_cents,
       |  CASE WHEN n > 1
       |    THEN CAST(s - v_cents AS DOUBLE) / CAST(n - 1 AS DOUBLE)
       |  END AS te_loo_cents
       |FROM rows_ r JOIN stats USING (event_type)
       |ORDER BY event_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("fe1_lag_features", fe1LagFeatures, fe1Sql),
    QuerySpec("fe2_target_encoding", fe2TargetEncoding, fe2Sql),
    QuerySpec("cd_order_audit", disorderStats, disorderSql),
    QuerySpec("cd_ivm_join", ivmJoin, ivmJoinSql),
    QuerySpec("cd_scd2_history", scd2History, scd2Sql),
    QuerySpec("cd_ivm_delta_agg", ivmDeltaAgg, ivmSql),
    QuerySpec("cd_merge_apply", mergeApply, mergeSql),
    QuerySpec("cd_asof_state", (s, d) => asofState(s, d), asofSql),
    QuerySpec("cd_table_stats", tableStats, tableStatsSql))
}
