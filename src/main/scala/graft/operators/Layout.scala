package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec, Tables}

/** Data-layout operators — the piece of a 100 TB deployment that
  * decides how much of the corpus a query touches before a single
  * byte is read. The reference leaves layout to its Kafka/HDFS
  * consumers; a Spark-native engine owns it:
  *
  *  - [[zorderKey]]: Morton (Z-order) interleave of two 16-bit keys,
  *    built from the standard bit-spread shifts as plain column
  *    algebra — codegen'd end to end, no UDF. Sorting/range-
  *    partitioning by this key clusters rows so per-file min/max
  *    statistics prune on BOTH dimensions (the multi-dim analog of
  *    sort-by-date).
  *  - [[layZorder]] / [[layZcells]]: the key itself and per-quadtree-
  *    cell bounding boxes over orders (custkey × order day) — the
  *    measurable claim of z-ordering is that cell bounding boxes are
  *    tight; the spec additionally asserts z-range-partitioned files
  *    beat natural order on bounding-box area.
  *  - [[writeDatePartitioned]]: hive-style partitioned parquet writer
  *    whose read side partition-prunes (asserted in LayoutSpec).
  */
object Layout extends QueryModule {

  private val mask = Seq(
    0x00FF00FFL -> 8, 0x0F0F0F0FL -> 4, 0x33333333L -> 2, 0x55555555L -> 1)

  /** Spread the low 16 bits of `c` to even bit positions (0, 2, …, 30)
    * via the classic mask-and-shift ladder. */
  def spreadBits(c: Column): Column =
    mask.foldLeft(c.bitwiseAND(lit(0xFFFFL))) { case (x, (m, s)) =>
      x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
    }

  /** DuckDB mirror of [[spreadBits]] (same ladder, textual fold). */
  def spreadBitsSql(e: String): String =
    mask.foldLeft(s"($e & 65535)") { case (x, (m, s)) =>
      s"(($x | ($x << $s)) & $m)"
    }

  /** Morton key: bits of `a` at even positions, bits of `b` at odd. */
  def zorderKey(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  def zorderKeySql(a: String, b: String): String =
    s"(${spreadBitsSql(a)} | (${spreadBitsSql(b)} << 1))"

  private def ordersWithZ(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("o_epoch_day",
        expr("unix_micros(to_utc_timestamp(o_orderdate, 'UTC')) " +
          "div 86400000000L"))
      .withColumn("zkey",
        zorderKey(col("o_custkey"), col("o_epoch_day")))

  private val ordersWithZSql: String =
    s"""SELECT *, ${zorderKeySql("o_custkey", "o_epoch_day")} AS zkey
       |  FROM (SELECT o_orderkey, o_custkey,
       |          epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
       |            AS o_epoch_day
       |        FROM orders)""".stripMargin

  // ── per-row morton key ──────────────────────────────────────────────
  def layZorder(spark: SparkSession, dir: String): DataFrame =
    ordersWithZ(spark, dir)
      .select("o_orderkey", "o_custkey", "o_epoch_day", "zkey")
      .orderBy("zkey", "o_orderkey")

  val layZorderSql: String =
    s"""SELECT o_orderkey, o_custkey, o_epoch_day, zkey
       |FROM ($ordersWithZSql)
       |ORDER BY zkey, o_orderkey""".stripMargin

  // ── quadtree-cell bounding boxes ────────────────────────────────────
  /** Top 6 z-bits of the RANGE-NORMALIZED key = the 8×8 quadtree grid
    * cell. Each dimension is first scaled to the full 16-bit range from
    * its global min/max (the range-bounds pass a real OPTIMIZE ZORDER
    * does; the bounds are a 1-row broadcast, not a shuffle) — raw keys
    * would leave the top bits constant and every row in one cell. Per
    * cell: row count and the (custkey, day) bounding box — the stats a
    * file-level reader keeps, and the quantity z-ordering minimizes. */
  def layZcells(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .withColumn("o_epoch_day",
        expr("unix_micros(to_utc_timestamp(o_orderdate, 'UTC')) " +
          "div 86400000000L"))
    val bounds = base.agg(
      min("o_custkey").as("mn_ck"), max("o_custkey").as("mx_ck"),
      min("o_epoch_day").as("mn_day"), max("o_epoch_day").as("mx_day"))
    def norm(x: Column, mn: Column, mx: Column): Column =
      ((x - mn) * lit(65535L)) / greatest(mx - mn, lit(1L)) cast "long"
    base.crossJoin(broadcast(bounds))
      .withColumn("zkey", zorderKey(
        norm(col("o_custkey"), col("mn_ck"), col("mx_ck")),
        norm(col("o_epoch_day"), col("mn_day"), col("mx_day"))))
      .groupBy(shiftrightunsigned(col("zkey"), 26).as("zcell"))
      .agg(count(lit(1)).as("n_rows"),
        min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck"),
        min("o_epoch_day").as("min_day"), max("o_epoch_day").as("max_day"))
      .orderBy("zcell")
  }

  val layZcellsSql: String = {
    val nck = "(((o_custkey - mn_ck) * 65535) // GREATEST(mx_ck - mn_ck, 1))"
    val nday = "(((o_epoch_day - mn_day) * 65535) // GREATEST(mx_day - mn_day, 1))"
    s"""WITH based AS (
       |  SELECT o_orderkey, o_custkey,
       |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
       |      AS o_epoch_day
       |  FROM orders),
       |bounds AS (
       |  SELECT MIN(o_custkey) AS mn_ck, MAX(o_custkey) AS mx_ck,
       |    MIN(o_epoch_day) AS mn_day, MAX(o_epoch_day) AS mx_day
       |  FROM based),
       |zed AS (
       |  SELECT o_custkey, o_epoch_day,
       |    ${zorderKeySql(nck, nday)} AS zkey
       |  FROM based CROSS JOIN bounds)
       |SELECT zkey >> 26 AS zcell, COUNT(*) AS n_rows,
       |  MIN(o_custkey) AS min_ck, MAX(o_custkey) AS max_ck,
       |  MIN(o_epoch_day) AS min_day, MAX(o_epoch_day) AS max_day
       |FROM zed GROUP BY zcell ORDER BY zcell""".stripMargin
  }

  // ── file-skipping effectiveness ─────────────────────────────────────
  /** WHY z-order: for one 2-D predicate (a custkey band × a date band,
    * both scale-free fractions of the observed ranges), count the
    * "files" (cells) a min/max-pruning reader skips under the z-order
    * layout versus an insertion-order layout with the same cell count.
    * Each cell keeps exactly the stats a parquet footer keeps (row
    * count + column min/max); a cell is skipped when its bounding box
    * misses either band. Insertion-order cells are orderkey ranges —
    * binned by VALUE (`(o_orderkey·64) div (max+1)`, a broadcast
    * 1-row bound), NEVER a global row_number, so neither layout needs
    * a global sort to evaluate. The z-order cells cluster both
    * dimensions, so their boxes are tight in BOTH custkey and day and
    * most miss the band-intersection; insertion-order boxes span the
    * full custkey range and can only prune on the date correlation.
    * Overflow: o_orderkey·64 stays < 2^63 below ~1.4·10^17 orders. */
  def layFileSkip(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .withColumn("o_epoch_day",
        expr("unix_micros(to_utc_timestamp(o_orderdate, 'UTC')) " +
          "div 86400000000L"))
    val bounds = base.agg(
      min("o_custkey").as("mn_ck"), max("o_custkey").as("mx_ck"),
      min("o_epoch_day").as("mn_day"), max("o_epoch_day").as("mx_day"),
      max("o_orderkey").as("mx_ok"))
    def norm(x: Column, mn: Column, mx: Column): Column =
      ((x - mn) * lit(65535L)) / greatest(mx - mn, lit(1L)) cast "long"
    val keyed = base.crossJoin(broadcast(bounds))
      .withColumn("zcell", shiftrightunsigned(zorderKey(
        norm(col("o_custkey"), col("mn_ck"), col("mx_ck")),
        norm(col("o_epoch_day"), col("mn_day"), col("mx_day"))), 26))
      .withColumn("lcell", expr("(o_orderkey * 64) div (mx_ok + 1)"))
      .withColumn("lo_ck", expr("mn_ck + ((mx_ck - mn_ck) * 2) div 5"))
      .withColumn("hi_ck", expr("mn_ck + (mx_ck - mn_ck) div 2"))
      .withColumn("lo_day", expr("mn_day + ((mx_day - mn_day) * 2) div 5"))
      .withColumn("hi_day", expr("mn_day + (mx_day - mn_day) div 2"))
    def stats(keyCol: String, label: String): DataFrame = keyed
      .groupBy(col(keyCol).as("cell"))
      .agg(count(lit(1)).as("c_rows"),
        min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck"),
        min("o_epoch_day").as("min_day"), max("o_epoch_day").as("max_day"),
        min("lo_ck").as("lo_ck"), min("hi_ck").as("hi_ck"),
        min("lo_day").as("lo_day"), min("hi_day").as("hi_day"))
      .withColumn("skipped",
        col("max_ck") < col("lo_ck") || col("min_ck") > col("hi_ck") ||
          col("max_day") < col("lo_day") || col("min_day") > col("hi_day"))
      .agg(count(lit(1)).as("n_cells"),
        count(when(col("skipped"), 1)).as("n_cells_skipped"),
        sum("c_rows").as("n_rows"),
        sum(when(col("skipped"), col("c_rows")).otherwise(0L))
          .as("n_rows_skipped"))
      .select(lit(label).as("layout"), col("n_cells"),
        col("n_cells_skipped"), col("n_rows"), col("n_rows_skipped"))
    stats("zcell", "zorder").unionByName(stats("lcell", "insertion"))
      .orderBy("layout")
  }

  val layFileSkipSql: String = {
    val nck = "(((o_custkey - mn_ck) * 65535) // GREATEST(mx_ck - mn_ck, 1))"
    val nday = "(((o_epoch_day - mn_day) * 65535) // GREATEST(mx_day - mn_day, 1))"
    def statsSql(cell: String, label: String): String =
      s"""SELECT '$label' AS layout, COUNT(*) AS n_cells,
         |  COUNT(CASE WHEN skipped THEN 1 END) AS n_cells_skipped,
         |  CAST(SUM(c_rows) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN skipped THEN c_rows ELSE 0 END) AS BIGINT)
         |    AS n_rows_skipped
         |FROM (
         |  SELECT $cell AS cell, COUNT(*) AS c_rows,
         |    MAX(o_custkey) < MIN(lo_ck) OR MIN(o_custkey) > MIN(hi_ck)
         |      OR MAX(o_epoch_day) < MIN(lo_day)
         |      OR MIN(o_epoch_day) > MIN(hi_day) AS skipped
         |  FROM keyed GROUP BY cell)""".stripMargin
    s"""WITH based AS (
       |  SELECT o_orderkey, o_custkey,
       |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
       |      AS o_epoch_day
       |  FROM orders),
       |bounds AS (
       |  SELECT MIN(o_custkey) AS mn_ck, MAX(o_custkey) AS mx_ck,
       |    MIN(o_epoch_day) AS mn_day, MAX(o_epoch_day) AS mx_day,
       |    MAX(o_orderkey) AS mx_ok
       |  FROM based),
       |keyed AS (
       |  SELECT o_custkey, o_epoch_day,
       |    (${zorderKeySql(nck, nday)} >> 26) AS zcell,
       |    (o_orderkey * 64) // (mx_ok + 1) AS lcell,
       |    mn_ck + ((mx_ck - mn_ck) * 2) // 5 AS lo_ck,
       |    mn_ck + (mx_ck - mn_ck) // 2 AS hi_ck,
       |    mn_day + ((mx_day - mn_day) * 2) // 5 AS lo_day,
       |    mn_day + (mx_day - mn_day) // 2 AS hi_day
       |  FROM based CROSS JOIN bounds)
       |${statsSql("zcell", "zorder")}
       |UNION ALL
       |${statsSql("lcell", "insertion")}
       |ORDER BY layout""".stripMargin
  }

  // ── partitioned writer ──────────────────────────────────────────────
  /** Hive-partitioned parquet lake: one directory per order year,
    * z-sorted within partitions so both partition pruning (year) and
    * row-group min/max pruning (custkey/day) apply on read. */
  def writeDatePartitioned(df: DataFrame, path: String): Unit =
    df.withColumn("o_year", year(col("o_orderdate")))
      .withColumn("zkey", zorderKey(col("o_custkey"),
        expr("unix_micros(to_utc_timestamp(o_orderdate, 'UTC')) " +
          "div 86400000000L")))
      .repartition(col("o_year"))
      .sortWithinPartitions("zkey")
      .drop("zkey")
      .write.mode("overwrite").partitionBy("o_year").parquet(path)

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("lay_zorder", layZorder, layZorderSql),
    QuerySpec("lay_zcells", layZcells, layZcellsSql),
    QuerySpec("lay_file_skip", layFileSkip, layFileSkipSql))
}
