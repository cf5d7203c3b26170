package graft.streaming

import graft.{QueryModule, QuerySpec}
import graft.sources.ChangeFeed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation with watermarking — the streaming
  * capability SURVEY.md §2.4 calls out as a free extension over the
  * reference (which has no event-time windows at all: ordering is its
  * only correctness device). The CDC envelope carries `ts` end-to-end,
  * so tumbling/sliding windows and late-data policy come straight from
  * Structured Streaming.
  */
object WindowedAgg extends QueryModule {

  /** Streaming tumbling-window counts per event type; events later than
    * `watermark` behind the max seen event time are dropped and their
    * windows finalized (append-mode emission). */
  def tumblingCounts(events: DataFrame, windowLength: String,
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"))

  /** Batch analog over the feed, bucketed by exact integer hour —
    * oracle-checkable (pure integer arithmetic on epoch micros). */
  def t10TumblingWindow(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    ChangeFeed.fromEvents(spark, dir)
      .withColumn("bucket_start_us",
        expr(s"ts_us div ${hourUs}L") * hourUs)
      .groupBy("bucket_start_us", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket_start_us", "event_type")
  }

  val t10Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql})
       |SELECT (ts_us // 3600000000) * 3600000000 AS bucket_start_us,
       |  event_type, COUNT(*) AS n
       |FROM feed GROUP BY bucket_start_us, event_type
       |ORDER BY bucket_start_us, event_type""".stripMargin

  /** Native gap-based session windows (`session_window`) per user —
    * the same sessionization the tx operators derive via LAG+cumsum,
    * so the DuckDB oracle mirrors exactly that construction: session
    * start = min event time of each gap-delimited run. */
  def t11SessionWindow(spark: SparkSession, dir: String): DataFrame =
    ChangeFeed.fromEvents(spark, dir)
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("session_window.start"))
        .as("session_start_us"), col("user_id"), col("n"))
      .orderBy("user_id", "session_start_us")

  val t11Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |marked AS (
       |  SELECT user_id, ts_us,
       |    CASE WHEN LAG(ts_us) OVER w IS NULL
       |           OR ts_us - LAG(ts_us) OVER w >= 3600000000 THEN 1 ELSE 0
       |    END AS s
       |  FROM feed
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
       |SELECT MIN(ts_us) AS session_start_us, user_id, COUNT(*) AS n
       |FROM (SELECT *, SUM(s) OVER (PARTITION BY user_id ORDER BY ts_us
       |        ROWS UNBOUNDED PRECEDING) AS sid
       |      FROM marked)
       |GROUP BY user_id, sid
       |ORDER BY user_id, session_start_us""".stripMargin

  /** Sliding windows (1 h length, 30 min step): every event lands in
    * exactly length/step = 2 windows. The batch analog assigns both
    * window starts per row via explode — the same fan-out Structured
    * Streaming's `window(ts, "1 hour", "30 minutes")` performs — and
    * the oracle mirrors it with unnest, all in exact integer micros. */
  def t13SlidingWindow(spark: SparkSession, dir: String): DataFrame = {
    val stepUs = 1800L * 1000000L
    ChangeFeed.fromEvents(spark, dir)
      .withColumn("b", expr(s"ts_us div ${stepUs}L"))
      .select(col("event_type"),
        explode(array(col("b") * stepUs, (col("b") - 1) * stepUs))
          .as("window_start_us"))
      .groupBy("window_start_us", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("window_start_us", "event_type")
  }

  val t13Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql})
       |SELECT window_start_us, event_type, COUNT(*) AS n
       |FROM (
       |  SELECT event_type,
       |    unnest(list_value((ts_us // 1800000000) * 1800000000,
       |      ((ts_us // 1800000000) - 1) * 1800000000)) AS window_start_us
       |  FROM feed)
       |GROUP BY window_start_us, event_type
       |ORDER BY window_start_us, event_type""".stripMargin

  /** Stream-stream interval join as a driver gate: every purchase
    * paired with the same user's clicks in the preceding 30 minutes,
    * aggregated per user. Runs [[StreamOps.intervalJoin]] — the exact
    * operator the streaming spec drives with watermarks and
    * MemoryStream batches — in batch mode (`withWatermark` is a no-op
    * on a batch frame), so the driver hash covers the identical join
    * predicate and column algebra the stream executes. At 100 TB the
    * streaming form's state is bounded by watermark × per-user rate;
    * the batch form is one shuffle on user_id with the interval
    * predicate applied inside the join. */
  def t14StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    StreamOps.intervalJoin(clicks, purchases, "user_id", "c_ts", "p_ts",
      watermark = "1 hour", boundSeconds = 1800L)
      .select(col("l.user_id").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy("user_id")
  }

  val t14Sql: String =
    """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts
      |  FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, COUNT(*) AS n_pairs,
      |  MIN(epoch_us(p_ts) - epoch_us(c_ts)) AS min_gap_us,
      |  MAX(epoch_us(p_ts) - epoch_us(c_ts)) AS max_gap_us
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1800 SECOND
      |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin

  /** Streaming ingest dedup as a driver gate: an at-least-once feed
    * (every 5th event re-delivered) healed by
    * [[StreamOps.dedupeByPosition]] — the watermarked
    * `dropDuplicates` the redelivery spec drives — run in batch mode
    * and aggregated per event type. Duplicates are byte-identical
    * redeliveries, so keep-any semantics is deterministic and the
    * DuckDB DISTINCT oracle is exact. State at scale is bounded by
    * watermark × position arrival rate; value sums use integer cents
    * for hash stability. */
  def t16StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val feed = ev.unionAll(ev.filter(col("event_id") % 5 === 0))
    StreamOps.dedupeByPosition(feed, "ts", "1 hour", Seq("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(graft.operators.QueryUtil.cents(col("value")).cast("long"))
          .as("sum_cents"))
      .orderBy("event_type")
  }

  val t16Sql: String =
    """WITH feed AS (
      |  SELECT event_id, event_type, value FROM events
      |  UNION ALL
      |  SELECT event_id, event_type, value FROM events
      |  WHERE event_id % 5 = 0),
      |healed AS (SELECT DISTINCT event_id, event_type, value FROM feed)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM healed GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The continuous leaderboard as a driver gate: run
    * [[StreamOps.topKStream]] — the bounded-state
    * transformWithState operator (StateKernel) the streaming spec drives in
    * event-chunks — in BATCH mode (one state fold per key) over the
    * events table: top-3 events per type by integer-cents value. In
    * batch the whole group folds in one invocation, exercising the
    * identical insert/tiebreak/cap logic each micro-batch executes;
    * the DuckDB oracle is the plain window form, so the green hash row
    * proves the incremental fold equals the global ranking. State at
    * scale: O(k) per live key. */
  def t17StreamTopk(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[StreamOps.Scored] =
      org.apache.spark.sql.Encoders.product[StreamOps.Scored]
    val scored = graft.Tables.events(spark, dir)
      .select(col("event_type").as("key"),
        col("event_id").cast("long").as("id"),
        graft.operators.QueryUtil.cents(col("value")).cast("long")
          .as("score"))
      .as[StreamOps.Scored]
    StreamOps.topKStream(scored, 3).toDF()
      .select(col("key").as("event_type"), col("id").as("event_id"),
        col("score").as("value_cents"), col("rank").cast("long").as("rk"))
      .orderBy("event_type", "rk")
  }

  val t17Sql: String =
    """SELECT event_type, event_id, value_cents, rk FROM (
      |  SELECT event_type, event_id,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY CAST(FLOOR(value * 100 + 0.5) AS BIGINT) DESC,
      |               event_id) AS rk
      |  FROM events)
      |WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t17_stream_topk", t17StreamTopk, t17Sql),
    QuerySpec("t16_stream_dedup", t16StreamDedup, t16Sql),
    QuerySpec("t14_stream_join", t14StreamJoin, t14Sql),
    QuerySpec("t10_tumbling_window", t10TumblingWindow, t10Sql),
    QuerySpec("t11_session_window", t11SessionWindow, t11Sql),
    QuerySpec("t13_sliding_window", t13SlidingWindow, t13Sql))
}
