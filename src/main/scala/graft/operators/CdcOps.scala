package graft.operators

import graft.{QueryModule, QuerySpec, Tables}
import graft.sources.{ChangeFeed, Snapshot}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The CDC dataflow operators from SURVEY.md §2 (sources §2.1, filters
  * §2.2, projections §2.3), each as a declarative DataFrame transform
  * with a DuckDB oracle. Operator ids (S2, P3, …) reference the SURVEY
  * inventory rows; reference file:line citations live on each member.
  *
  * All transforms are narrow (scan → project/filter) except where noted;
  * the only shuffles are explicit groupBys and the analytic window in
  * P3 (partitioned by user_id — the per-key ordering domain, SURVEY
  * §7.5, so it scales horizontally with key cardinality).
  */
object CdcOps extends QueryModule {

  // ── S2: event decode / demux ────────────────────────────────────────
  /** Raw feed → typed mutation envelope (reference
    * AbstractMySQLBinaryLogConsumer.scala:43-53): a when/otherwise
    * projection, fully codegen'd, no shuffle. */
  def s2EventDecode(spark: SparkSession, dir: String): DataFrame =
    ChangeFeed.fromEvents(spark, dir)
      .select("event_id", "op", "mtype", "database", "tbl", "table_id",
        "pk", "ts_us")
      .orderBy("event_id")

  val s2Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql})
       |SELECT event_id, op, mtype, database, tbl, table_id, pk, ts_us
       |FROM feed ORDER BY event_id""".stripMargin

  // ── S3: QUERY classifier (prefix dispatch) ──────────────────────────
  /** SQL-text prefix → Begin/Commit/Rollback/Alter/Unknown (reference
    * AbstractMySQLBinaryLogConsumer.scala:66-90). Same prefix-dispatch
    * shape over the documents corpus. */
  def s3PrefixClassify(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      when(col("text").startsWith("the"), "begin")
        .when(col("text").startsWith("join"), "commit")
        .when(col("text").startsWith("agg"), "rollback")
        .when(col("text").startsWith("spark"), "alter")
        .otherwise("unknown").as("query_class"))
      .orderBy("doc_id")

  val s3Sql: String =
    """SELECT doc_id,
      |  CASE WHEN starts_with(text, 'the') THEN 'begin'
      |       WHEN starts_with(text, 'join') THEN 'commit'
      |       WHEN starts_with(text, 'agg') THEN 'rollback'
      |       WHEN starts_with(text, 'spark') THEN 'alter'
      |       ELSE 'unknown' END AS query_class
      |FROM documents ORDER BY doc_id""".stripMargin

  // ── S4: ALTER db/table extraction ───────────────────────────────────
  /** Tokenize DDL text to pull `db.table` (reference
    * AbstractMySQLBinaryLogConsumer.scala:92-111, hand-rolled there;
    * here a single regexp_extract). */
  def s4AlterExtract(spark: SparkSession, dir: String): DataFrame = {
    val ddl = concat(lit("ALTER TABLE testdb."), col("source"),
      lit(" ADD COLUMN c INT"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      regexp_extract(ddl, "ALTER TABLE (\\w+)\\.(\\w+)", 1).as("db_name"),
      regexp_extract(ddl, "ALTER TABLE (\\w+)\\.(\\w+)", 2).as("table_name"))
      .orderBy("doc_id")
  }

  val s4Sql: String =
    """SELECT doc_id,
      |  regexp_extract('ALTER TABLE testdb.' || source || ' ADD COLUMN c INT',
      |    'ALTER TABLE (\w+)\.(\w+)', 1) AS db_name,
      |  regexp_extract('ALTER TABLE testdb.' || source || ' ADD COLUMN c INT',
      |    'ALTER TABLE (\w+)\.(\w+)', 2) AS table_name
      |FROM documents ORDER BY doc_id""".stripMargin

  // ── S9/S12: snapshot scan → insert mutations ────────────────────────
  /** Bulk table load stamped as insert mutations (reference
    * MySQLSnapshotter.scala:85-134 + SelectConsumer.scala:55-78). */
  def s9SnapshotScan(spark: SparkSession, dir: String): DataFrame =
    Snapshot.asInsertMutations(Tables.customer(spark, dir),
      "testdb", "customer", Seq("c_custkey"))
      .orderBy("c_custkey")

  val s9Sql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |  'insert' AS op, CAST(1 AS TINYINT) AS mtype,
      |  'testdb' AS database, 'customer' AS tbl,
      |  CAST(c_custkey AS VARCHAR) AS pk, CAST(NULL AS BIGINT) AS ts_us
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ── S10: bounding-values probe ──────────────────────────────────────
  /** MIN/MAX split-range probe (reference MySQLSnapshotter.scala:174-195). */
  def s10BoundingValues(spark: SparkSession, dir: String): DataFrame =
    Snapshot.boundingValues(Tables.orders(spark, dir), "o_orderkey")

  val s10Sql: String =
    "SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi, COUNT(*) AS n FROM orders"

  // ── S11: integer range splitter ─────────────────────────────────────
  /** Range-split assignment over the key domain (reference
    * splitter/IntegerSplitter.scala:17-158); bounds via 1-row broadcast,
    * bucketing via pure integer arithmetic. */
  def s11RangeSplit(spark: SparkSession, dir: String): DataFrame =
    Snapshot.withSplitId(Tables.customer(spark, dir), "c_custkey", 5)
      .groupBy("split_id")
      .agg(count(lit(1)).as("n_rows"),
        min("c_custkey").as("key_lo"), max("c_custkey").as("key_hi"))
      .orderBy("split_id")

  val s11Sql: String =
    """SELECT split_id, COUNT(*) AS n_rows,
      |  MIN(c_custkey) AS key_lo, MAX(c_custkey) AS key_hi
      |FROM (
      |  SELECT c_custkey,
      |    CAST(LEAST((c_custkey - b.lo) * 5 // (b.hi - b.lo + 1), 4) AS INT) AS split_id
      |  FROM customer CROSS JOIN
      |    (SELECT MIN(c_custkey) AS lo, MAX(c_custkey) AS hi FROM customer) b)
      |GROUP BY split_id ORDER BY split_id""".stripMargin

  // ── S12: snapshot ∪ change stream handoff ───────────────────────────
  /** Snapshot rows and live mutations share one envelope and pipeline
    * (reference SelectConsumer.scala:55-78 + README.md:12 bootstrap
    * pattern): unionByName of the two sources, no shuffle. */
  def s12SnapshotUnion(spark: SparkSession, dir: String): DataFrame = {
    val snap = s9SnapshotScan(spark, dir)
      .select("op", "mtype", "database", "tbl", "pk", "ts_us")
    val live = ChangeFeed.fromEvents(spark, dir)
      .select("op", "mtype", "database", "tbl", "pk", "ts_us")
    // Total order over every output column (ts_us NULLS FIRST on both
    // engines) — identical rows are interchangeable, so this is a
    // deterministic multiset order for the driver's order-sensitive hash.
    snap.unionByName(live)
      .orderBy(col("tbl"), col("pk"), col("op"), col("mtype"),
        col("database"), col("ts_us").asc_nulls_first)
  }

  val s12Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql})
       |SELECT 'insert' AS op, CAST(1 AS TINYINT) AS mtype,
       |  'testdb' AS database, 'customer' AS tbl,
       |  CAST(c_custkey AS VARCHAR) AS pk, CAST(NULL AS BIGINT) AS ts_us
       |FROM customer
       |UNION ALL
       |SELECT op, mtype, database, tbl, pk, ts_us FROM feed
       |ORDER BY tbl, pk, op, mtype, database, ts_us NULLS FIRST""".stripMargin

  // ── F1: include-event condition (skip filter) ───────────────────────
  /** Config-supplied predicate dropping events before any downstream
    * work (reference binaryLogConsumerTraits.scala:41-55). As a SQL
    * expression it is Catalyst-compiled and pushed into the scan. */
  def f1IncludeFilter(spark: SparkSession, dir: String): DataFrame =
    ChangeFeed.includeEvents(ChangeFeed.fromEvents(spark, dir),
        "tbl <> 'error' AND user_id % 7 <> 0")
      .select("event_id", "tbl", "user_id")
      .orderBy("event_id")

  val f1Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql})
       |SELECT event_id, tbl, user_id FROM feed
       |WHERE tbl <> 'error' AND user_id % 7 <> 0
       |ORDER BY event_id""".stripMargin

  // ── P3: update old/new image pairs ──────────────────────────────────
  /** Updates carry (before, after) row images (reference
    * event/package.scala:102-117, built at
    * AbstractMySQLBinaryLogConsumer.scala:193-204). Batch analog: the
    * previous per-key value via lag() over (user_id, time) — one shuffle
    * partitioned by user_id, the engine's per-key ordering domain. */
  def p3UpdateImages(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ChangeFeed.fromEvents(spark, dir)
      .withColumn("old_value", lag("value", 1).over(w))
      .filter(col("op") === "update")
      .select(col("event_id"), col("user_id"), col("old_value"),
        col("value").as("new_value"))
      .orderBy("event_id")
  }

  val p3Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |imaged AS (
       |  SELECT event_id, user_id, op,
       |    LAG(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS old_value,
       |    value AS new_value
       |  FROM feed)
       |SELECT event_id, user_id, old_value, new_value
       |FROM imaged WHERE op = 'update' ORDER BY event_id""".stripMargin

  // ── F3: null-column omission ────────────────────────────────────────
  /** The generic encoder drops null cells (reference
    * KafkaGenericAvroSerializer.scala:84-110): same filter over the
    * imaged stream — first change per key has no before-image. */
  def f3NullOmission(spark: SparkSession, dir: String): DataFrame =
    p3UpdateImages(spark, dir).filter(col("old_value").isNotNull)
      .orderBy("event_id")

  val f3Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql}),
       |imaged AS (
       |  SELECT event_id, user_id, op,
       |    LAG(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS old_value,
       |    value AS new_value
       |  FROM feed)
       |SELECT event_id, user_id, old_value, new_value
       |FROM imaged WHERE op = 'update' AND old_value IS NOT NULL
       |ORDER BY event_id""".stripMargin

  // ── P6: mutation → per-row fan-out ──────────────────────────────────
  /** One mutation with N rows → N messages (reference
    * KafkaMutationAvroProducer.scala:61-77): the built-in explode
    * Generator, demonstrated over the embedding vectors. */
  def p6RowFanout(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), explode(col("embedding")).as("component"))
      .orderBy("vec_id", "component")

  val p6Sql: String =
    """SELECT vec_id, unnest(embedding) AS component FROM embeddings
      |ORDER BY vec_id, component""".stripMargin

  // ── P7: topic-name routing ──────────────────────────────────────────
  /** topic = "${db}_${table}_generic" (reference KafkaUtil.scala:7-27,
    * a runtime-compiled template there; a concat_ws column here). */
  def p7TopicRouting(spark: SparkSession, dir: String): DataFrame =
    ChangeFeed.fromEvents(spark, dir)
      .withColumn("topic",
        concat_ws("_", col("database"), col("tbl"), lit("generic")))
      .groupBy("topic").agg(count(lit(1)).as("n_messages"))
      .orderBy("topic")

  val p7Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql})
       |SELECT concat_ws('_', database, tbl, 'generic') AS topic,
       |  COUNT(*) AS n_messages
       |FROM feed GROUP BY 1 ORDER BY topic""".stripMargin

  // ── P8: mutation type tagging (byte ↔ string) ───────────────────────
  /** Class → magic byte and back (reference event/package.scala:143-192). */
  def p8MutationTagging(spark: SparkSession, dir: String): DataFrame =
    ChangeFeed.fromEvents(spark, dir)
      .groupBy("op", "mtype").agg(count(lit(1)).as("n"))
      .withColumn("op_roundtrip",
        when(col("mtype") === 1, "insert")
          .when(col("mtype") === 2, "update")
          .when(col("mtype") === 3, "delete"))
      .orderBy("mtype")

  val p8Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql})
       |SELECT op, mtype, COUNT(*) AS n,
       |  CASE mtype WHEN 1 THEN 'insert' WHEN 2 THEN 'update'
       |    WHEN 3 THEN 'delete' END AS op_roundtrip
       |FROM feed GROUP BY op, mtype ORDER BY mtype""".stripMargin

  // ── P9: composite PK as dot-joined string ───────────────────────────
  /** PK values joined with "." (reference event/package.scala:66-74) —
    * the natural message key; lineitem's (orderkey, linenumber). */
  def p9PkString(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      concat_ws(".", col("l_orderkey").cast("string"),
        col("l_linenumber").cast("string")).as("pk"))
      .orderBy("l_orderkey", "l_linenumber")

  val p9Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  concat_ws('.', CAST(l_orderkey AS VARCHAR),
      |    CAST(l_linenumber AS VARCHAR)) AS pk
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ── P10: SQL rendering (stdout producer) ────────────────────────────
  /** Mutation → printable INSERT/UPDATE/DELETE text (reference
    * StdoutProducer.scala:33-101). */
  def p10SqlRender(spark: SparkSession, dir: String): DataFrame =
    ChangeFeed.fromEvents(spark, dir).select(
      col("event_id"),
      when(col("op") === "insert",
        concat(lit("INSERT INTO testdb."), col("tbl"),
          lit(" (user_id, event_id) VALUES ("),
          col("user_id").cast("string"), lit(", "),
          col("event_id").cast("string"), lit(")")))
        .when(col("op") === "delete",
          concat(lit("DELETE FROM testdb."), col("tbl"),
            lit(" WHERE pk = "), col("pk")))
        .otherwise(
          concat(lit("UPDATE testdb."), col("tbl"),
            lit(" SET ... WHERE pk = "), col("pk"))).as("sql_text"))
      .orderBy("event_id")

  val p10Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql})
       |SELECT event_id,
       |  CASE WHEN op = 'insert' THEN
       |    'INSERT INTO testdb.' || tbl || ' (user_id, event_id) VALUES (' ||
       |      CAST(user_id AS VARCHAR) || ', ' || CAST(event_id AS VARCHAR) || ')'
       |  WHEN op = 'delete' THEN
       |    'DELETE FROM testdb.' || tbl || ' WHERE pk = ' || pk
       |  ELSE 'UPDATE testdb.' || tbl || ' SET ... WHERE pk = ' || pk
       |  END AS sql_text
       |FROM feed ORDER BY event_id""".stripMargin

  // ── P11: value stringification ──────────────────────────────────────
  /** Typed cell → string (reference ColumnType.scala:53-67). Dates and
    * integers only — float formatting is engine-specific. */
  def p11Stringify(spark: SparkSession, dir: String): DataFrame =
    ChangeFeed.fromEvents(spark, dir).select(
      col("event_id"),
      col("ts").cast("date").cast("string").as("day_str"),
      col("user_id").cast("string").as("uid_str"),
      upper(col("event_type")).as("type_str"))
      .orderBy("event_id")

  val p11Sql: String =
    """SELECT event_id,
      |  CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day_str,
      |  CAST(user_id AS VARCHAR) AS uid_str,
      |  UPPER(event_type) AS type_str
      |FROM events ORDER BY event_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("s2_event_decode", s2EventDecode, s2Sql),
    QuerySpec("s3_prefix_classify", s3PrefixClassify, s3Sql),
    QuerySpec("s4_alter_extract", s4AlterExtract, s4Sql),
    QuerySpec("s9_snapshot_scan", s9SnapshotScan, s9Sql),
    QuerySpec("s10_bounding_values", s10BoundingValues, s10Sql),
    QuerySpec("s11_range_split", s11RangeSplit, s11Sql),
    QuerySpec("s12_snapshot_union", s12SnapshotUnion, s12Sql),
    QuerySpec("f1_include_filter", f1IncludeFilter, f1Sql),
    QuerySpec("f3_null_omission", f3NullOmission, f3Sql),
    QuerySpec("p3_update_images", p3UpdateImages, p3Sql),
    QuerySpec("p6_row_fanout", p6RowFanout, p6Sql),
    QuerySpec("p7_topic_routing", p7TopicRouting, p7Sql),
    QuerySpec("p8_mutation_tagging", p8MutationTagging, p8Sql),
    QuerySpec("p9_pk_string", p9PkString, p9Sql),
    QuerySpec("p10_sql_render", p10SqlRender, p10Sql),
    QuerySpec("p11_stringify", p11Stringify, p11Sql))
}
