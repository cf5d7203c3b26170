package graft

import graft.sources.{CdcLake, ChangeFeed}
import org.apache.spark.sql.functions._

class CdcLakeSpec extends SparkSpec {

  test("topic-per-table lake layout prunes partitions at planning time") {
    val dir = tempDir("lake").toString
    val feed = ChangeFeed.fromEvents(spark, sf)
      .select("op", "database", "tbl", "pk", "ts_us", "event_id")
    CdcLake.write(feed, dir)
    // one directory per (database, tbl)
    val tables = new java.io.File(s"$dir/database=testdb").list().sorted
    assert(tables.toSeq === Seq("tbl=click", "tbl=error", "tbl=purchase",
      "tbl=signup", "tbl=view"))
    val one = CdcLake.readTable(spark, dir, "testdb", "purchase")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    // read from the scan node: the plan string cuts its filter list
    // at spark.sql.maxMetadataStringLength, so wider expression ids
    // can cut the literal off
    val partitionFilters = one.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.partitionFilters.map(_.sql)
    }.flatten
    assert(partitionFilters.exists(f => f.contains("tbl") &&
      f.contains("'purchase'")),
      "table predicate became a partition filter:\n" + plan)
    // pruned scan touches exactly the one table's rows
    val expected = feed.filter(col("tbl") === "purchase").count()
    assert(one.count() === expected)
    // and appended batches accumulate (at-rest replication log)
    CdcLake.write(feed.filter(col("tbl") === "purchase"), dir)
    assert(CdcLake.readTable(spark, dir, "testdb", "purchase").count() ===
      expected * 2)
  }

  test("log compaction keeps only the latest surviving image per key") {
    val sparkS = spark
    import sparkS.implicits._
    val dir = tempDir("compact").toString
    val log = Seq(
      // (op, db, tbl, pk, ord)
      ("insert", "d", "t", "k1", 1L),
      ("update", "d", "t", "k1", 2L),
      ("insert", "d", "t", "k2", 3L),
      ("delete", "d", "t", "k2", 4L),
      ("insert", "d", "t2", "k1", 5L),
      ("delete", "d", "t", "k3", 6L),
      ("insert", "d", "t", "k3", 7L))
      .toDF("op", "database", "tbl", "pk", "ord")
    CdcLake.write(log, s"$dir/log")
    CdcLake.compact(spark, s"$dir/log", s"$dir/compacted", "ord")
    val out = CdcLake.read(spark, s"$dir/compacted")
      .select("tbl", "pk", "op", "ord").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    assert(out === Map(
      ("t", "k1") -> ("update", 2L), // latest image wins
      ("t2", "k1") -> ("insert", 5L), // same pk, other table unaffected
      ("t", "k3") -> ("insert", 7L)), // re-insert after delete survives
      "k2 (deleted last) is gone; everything else compacts to latest")
  }
}
