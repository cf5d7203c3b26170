package graft.operators

import graft.{QueryModule, QuerySpec}
import graft.sources.ChangeFeed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Transaction-semantics operators (SURVEY.md §2.4 T1–T4) as batch
  * queries: the reference buffers mutations between BEGIN and
  * COMMIT/ROLLBACK per connection (reference `mypipe-api/src/main/scala/
  * mypipe/api/consumer/AbstractBinaryLogConsumer.scala:15-21,74-82,
  * 124-177`). The raw feed has no explicit BEGIN/COMMIT markers, so
  * transaction extent is derived by gap-based sessionization per user —
  * the same cumulative-sum-over-lag construction Spark and DuckDB both
  * evaluate exactly (integer microseconds, no FP).
  *
  * The live streaming equivalent (explicit begin/commit/rollback control
  * events, buffering across micro-batches, state timeouts) is
  * `graft.streaming.TxPipeline`.
  *
  * Scale: one shuffle on user_id (the per-key ordering domain); windows
  * evaluate within partitions. Key cardinality grows with data size, so
  * this parallelizes to any cluster width; a single global-order window
  * would not (SURVEY §7.5).
  */
object TxOps extends QueryModule {

  /** Tx-session gap: events ≤ 1 h apart on one connection share a tx. */
  val GapUs: Long = 3600L * 1000000L

  private val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
  private val byTx = Window.partitionBy("user_id", "tx_seq")

  /** Per-row tx assignment: gap-marks then running sum (T3's txid
    * assignment; deterministic offset-derived ids rather than the
    * reference's UUIDv1 — SURVEY §7.5 testability note). */
  def withTx(feed: DataFrame): DataFrame =
    feed
      .withColumn("prev_ts", lag("ts_us", 1).over(byUser))
      .withColumn("tx_start",
        when(col("prev_ts").isNull ||
          col("ts_us") - col("prev_ts") > GapUs, 1).otherwise(0))
      .withColumn("tx_seq", sum("tx_start")
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("txid", concat_ws("-", lit("tx"),
        col("user_id").cast("string"), col("tx_seq").cast("string")))

  private val withTxSql: String =
    s"""feed AS (${ChangeFeed.feedSql}),
       |marked AS (
       |  SELECT *,
       |    CASE WHEN LAG(ts_us) OVER w IS NULL
       |           OR ts_us - LAG(ts_us) OVER w > ${GapUs} THEN 1 ELSE 0
       |    END AS tx_start
       |  FROM feed
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |sessioned AS (
       |  SELECT *,
       |    SUM(tx_start) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS UNBOUNDED PRECEDING) AS tx_seq,
       |    concat_ws('-', 'tx', CAST(user_id AS VARCHAR),
       |      CAST(SUM(tx_start) OVER (PARTITION BY user_id
       |        ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS VARCHAR))
       |      AS txid
       |  FROM marked)""".stripMargin

  // ── T1: transaction grouping ────────────────────────────────────────
  /** Mutations grouped per transaction with buffer cardinality and span
    * (reference AbstractBinaryLogConsumer.scala:124-177's txQueue). */
  def t1TxGrouping(spark: SparkSession, dir: String): DataFrame =
    withTx(ChangeFeed.fromEvents(spark, dir))
      .groupBy("txid", "user_id")
      .agg(count(lit(1)).as("n_mutations"),
        min("ts_us").as("begin_ts_us"), max("ts_us").as("commit_ts_us"))
      .orderBy("user_id", "txid")

  val t1Sql: String =
    s"""WITH $withTxSql
       |SELECT txid, user_id, COUNT(*) AS n_mutations,
       |  MIN(ts_us) AS begin_ts_us, MAX(ts_us) AS commit_ts_us
       |FROM sessioned GROUP BY txid, user_id
       |ORDER BY user_id, txid""".stripMargin

  // ── T2: commit-timestamp rewrite ────────────────────────────────────
  /** Every buffered mutation takes the COMMIT event's timestamp on
    * flush (reference AbstractBinaryLogConsumer.scala:152-157). */
  def t2CommitTs(spark: SparkSession, dir: String): DataFrame =
    withTx(ChangeFeed.fromEvents(spark, dir))
      .withColumn("commit_ts_us", max("ts_us").over(byTx))
      .select("event_id", "user_id", "txid", "ts_us", "commit_ts_us")
      .orderBy("event_id")

  val t2Sql: String =
    s"""WITH $withTxSql
       |SELECT event_id, user_id, txid, ts_us,
       |  MAX(ts_us) OVER (PARTITION BY user_id, tx_seq) AS commit_ts_us
       |FROM sessioned ORDER BY event_id""".stripMargin

  // ── T3: txid assignment ─────────────────────────────────────────────
  /** Row-level txid attachment (reference Mutation.txAware,
    * event/package.scala:89-91; deterministic ids here). */
  def t3TxidAssign(spark: SparkSession, dir: String): DataFrame =
    withTx(ChangeFeed.fromEvents(spark, dir))
      .select("event_id", "user_id", "txid", "op")
      .orderBy("event_id")

  val t3Sql: String =
    s"""WITH $withTxSql
       |SELECT event_id, user_id, txid, op FROM sessioned
       |ORDER BY event_id""".stripMargin

  // ── T4: rollback discard ────────────────────────────────────────────
  /** ROLLBACK discards the buffered tx (reference
    * AbstractBinaryLogConsumer.scala:163-171). Batch analog: a
    * transaction whose final mutation is a delete is treated as rolled
    * back and its mutations are dropped wholesale. */
  def t4RollbackDiscard(spark: SparkSession, dir: String): DataFrame =
    withTx(ChangeFeed.fromEvents(spark, dir))
      .withColumn("last_op", last("op").over(
        byTx.orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("last_op") =!= "delete")
      .select("event_id", "user_id", "txid", "op")
      .orderBy("event_id")

  val t4Sql: String =
    s"""WITH $withTxSql
       |SELECT event_id, user_id, txid, op FROM (
       |  SELECT *, LAST_VALUE(op) OVER (PARTITION BY user_id, tx_seq
       |    ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_op
       |  FROM sessioned)
       |WHERE last_op <> 'delete' ORDER BY event_id""".stripMargin

  // ── T12: group-mutations-by-tx batch emission ───────────────────────
  /** Whole-transaction flush units (reference `reference.conf:21`
    * group-mutations-by-tx + `AbstractBinaryLogConsumer.scala:155`):
    * one row per transaction carrying the full mutation list in a
    * deterministic order. The list rides as a canonical string
    * (sorted "seq:op" entries) so the oracle compares it exactly;
    * the streaming equivalent is `TxPipeline.batched`. */
  def t12TxBatch(spark: SparkSession, dir: String): DataFrame =
    withTx(ChangeFeed.fromEvents(spark, dir))
      .withColumn("entry", concat_ws(":",
        col("event_id").cast("string"), col("op")))
      .groupBy("txid", "user_id")
      .agg(count(lit(1)).as("n_mutations"),
        max("ts_us").as("commit_ts_us"),
        concat_ws(",", array_sort(collect_list(col("entry"))))
          .as("batch"))
      .orderBy("user_id", "txid")

  val t12Sql: String =
    s"""WITH $withTxSql
       |SELECT txid, user_id, COUNT(*) AS n_mutations,
       |  MAX(ts_us) AS commit_ts_us,
       |  array_to_string(list_sort(list(
       |    CAST(event_id AS VARCHAR) || ':' || op)), ',') AS batch
       |FROM sessioned GROUP BY txid, user_id
       |ORDER BY user_id, txid""".stripMargin

  // ── §7.3 flagship: latest-image reconstruction ──────────────────────
  /** Reconstruct current table state from the change stream: latest
    * image per PK, deletes dropped (SURVEY §7.3 — the reference's core
    * replication promise made queryable). row_number over (pk, ts desc)
    * — one shuffle on pk. */
  def t9LatestImage(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    ChangeFeed.fromEvents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select("user_id", "event_id", "op", "value", "ts_us")
      .orderBy("user_id")
  }

  val t9Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql})
       |SELECT user_id, event_id, op, value, ts_us FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY ts_us DESC, event_id DESC) AS rn
       |  FROM feed)
       |WHERE rn = 1 AND op <> 'delete' ORDER BY user_id""".stripMargin

  // ── T15: transaction-size distribution ──────────────────────────────
  /** The tx-buffer observability the reference's operator lacks: how
    * big do transactions get (the T1 buffer is O(tx size) — its
    * p-max IS the memory bound) and how long do they stay open (the
    * abandoned-tx timeout must exceed the honest max span). Two-level:
    * per-tx size/span first, then the (tiny) histogram; mean span is
    * one exact-integer division. */
  def t15TxSizeStats(spark: SparkSession, dir: String): DataFrame =
    withTx(ChangeFeed.fromEvents(spark, dir))
      .groupBy("user_id", "tx_seq")
      .agg(count(lit(1)).as("sz"),
        (max("ts_us") - min("ts_us")).as("span_us"))
      .groupBy("sz")
      .agg(count(lit(1)).as("n_txs"), sum("span_us").as("sum_span"),
        max("span_us").as("max_span_us"))
      .select(col("sz"), col("n_txs"),
        (col("sz") * col("n_txs")).as("n_mutations"),
        col("max_span_us"),
        (col("sum_span").cast("double") / col("n_txs").cast("double"))
          .as("mean_span_us"))
      .orderBy("sz")

  val t15Sql: String =
    s"""WITH $withTxSql,
       |per_tx AS (
       |  SELECT user_id, tx_seq, COUNT(*) AS sz,
       |    MAX(ts_us) - MIN(ts_us) AS span_us
       |  FROM sessioned GROUP BY user_id, tx_seq)
       |SELECT sz, COUNT(*) AS n_txs,
       |  sz * COUNT(*) AS n_mutations,
       |  CAST(MAX(span_us) AS BIGINT) AS max_span_us,
       |  CAST(CAST(SUM(span_us) AS BIGINT) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS mean_span_us
       |FROM per_tx GROUP BY sz ORDER BY sz""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t15_tx_size_stats", t15TxSizeStats, t15Sql),
    QuerySpec("t1_tx_grouping", t1TxGrouping, t1Sql),
    QuerySpec("t2_commit_ts", t2CommitTs, t2Sql),
    QuerySpec("t3_txid_assign", t3TxidAssign, t3Sql),
    QuerySpec("t4_rollback_discard", t4RollbackDiscard, t4Sql),
    QuerySpec("t12_tx_batch", t12TxBatch, t12Sql),
    QuerySpec("t9_latest_image", t9LatestImage, t9Sql))
}
