package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {

  test("zorderKey interleaves bits exactly (reference bit-by-bit check)") {
    val sparkS = spark
    import sparkS.implicits._
    def morton(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      z
    }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (40000L, 7L), (65536L + 5L, 3L)) // 17th bit masked
    val got = cases.toDF("a", "b")
      .select(Layout.zorderKey(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    val want = cases.map { case (a, b) => morton(a & 0xFFFFL, b & 0xFFFFL) }
    assert(got.toSeq === want)
  }

  test("z-order clustering beats natural order on per-file bounding boxes") {
    // range-partition the same rows by zkey vs by arrival order into the
    // same number of "files"; the summed bounding-box area (custkey span
    // × day span) must shrink under z — this is the pruning win
    val z = graft.operators.Layout.layZorder(spark, sf)
    def area(df: org.apache.spark.sql.DataFrame): Long =
      df.withColumn("p", spark_partition_id())
        .groupBy("p")
        .agg(((max("o_custkey") - min("o_custkey")) *
          (max("o_epoch_day") - min("o_epoch_day"))).as("a"))
        .agg(sum("a")).collect().head.getLong(0)
    val zArea = area(z.repartitionByRange(8, col("zkey")))
    val naturalArea = area(z.repartitionByRange(8, col("o_orderkey")))
    assert(zArea < naturalArea / 2,
      s"z-order layout area $zArea not well under natural $naturalArea")
  }

  test("date-partitioned lake prunes partitions and pushes filters") {
    val dir = tempDir("graft_lake").toString
    Layout.writeDatePartitioned(Tables.orders(spark, sf), dir)
    val back = spark.read.parquet(dir)
    val pruned = back.filter(col("o_year") === 1995 &&
      col("o_custkey") < 100)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"),
      plan.take(800))
    assert(plan.contains("PushedFilters: [IsNotNull(o_custkey)"),
      plan.take(800))
    // only the 1995 directory is read: the scan's runtime metric counts
    // selected partitions after pruning (inputFiles would list all)
    assert(pruned.collect().length > 0) // executes THIS queryExecution
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    val partsRead = scan.metrics("numPartitions").value
    val years = Tables.orders(spark, sf)
      .select(year(col("o_orderdate"))).distinct().count()
    assert(partsRead === 1, s"read $partsRead partitions of $years years")
  }

  test("zcells cover all rows with disjoint counts") {
    val cells = Layout.layZcells(spark, sf)
    val total = cells.agg(sum("n_rows")).collect().head.getLong(0)
    assert(total === Tables.orders(spark, sf).count())
    assert(cells.filter(col("min_ck") > col("max_ck")).count() === 0)
  }

  test("file skip: z-order prunes the 2-D band; both layouts cover all rows") {
    val rows = Layout.layFileSkip(spark, sf).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    assert(rows.keySet === Set("zorder", "insertion"))
    val n = Tables.orders(spark, sf).count()
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_rows") === n, "every cell layout covers all rows")
      assert(r.getAs[Long]("n_rows_skipped") <= n)
      assert(r.getAs[Long]("n_cells_skipped") <= r.getAs[Long]("n_cells"))
    }
    // the point of the operator: clustering both dimensions must prune
    // strictly more than insertion order for a 2-D predicate
    assert(rows("zorder").getAs[Long]("n_rows_skipped") >
      rows("insertion").getAs[Long]("n_rows_skipped"))
  }
}
