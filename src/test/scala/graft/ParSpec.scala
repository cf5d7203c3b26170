package graft

import org.apache.spark.sql.functions._

/** Pins the scale-adaptivity contract of the input-widening lever
  * (graft.util.Par, r16/r17): full widen fans a byte-small input to
  * the core count, chunked widen derives width from the size estimate
  * (no-op under one chunk — the bench-scale regime the r17 A/B chose —
  * proportional as the input grows), and BOTH are exact no-ops once
  * the estimate says the scan already plans >= cores splits (the
  * production regime). The no-op arms return the SAME frame (reference
  * equality): zero added exchanges, not just harmless ones. */
class ParSpec extends SparkSpec {
  import graft.util.Par

  private def cores = spark.sparkContext.defaultParallelism

  test("widen: byte-small input fans to the core count") {
    val df = spark.range(10).toDF("id")
    assert(Par.widen(df).rdd.getNumPartitions == cores)
  }

  test("widenChunked: no-op (same frame) while the input is under " +
    "one chunk — the bench-scale regime") {
    val df = spark.range(10).toDF("id") // est ~80 B << 4m default chunk
    assert(Par.widenChunked(df) eq df,
      "sub-chunk input must not gain an exchange")
  }

  test("widenChunked: width grows with the estimate, capped at cores") {
    val prev = spark.conf.getOption("spark.graft.widen.chunkBytes")
    spark.conf.set("spark.graft.widen.chunkBytes", "16")
    try {
      // range rows are 8 bytes in the stats: 4 rows = 32 B = 2 chunks
      val two = Par.widenChunked(spark.range(4).toDF("id"))
      assert(two.rdd.getNumPartitions == 2,
        "two-chunk input widens to two partitions")
      // 100 rows = 800 B = 50 chunks -> capped at the core count
      val capped = Par.widenChunked(spark.range(100).toDF("id"))
      assert(capped.rdd.getNumPartitions == cores,
        "many-chunk input caps at the core count")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.widen.chunkBytes", v)
        case None => spark.conf.unset("spark.graft.widen.chunkBytes")
      }
    }
  }

  test("both variants no-op (same frame) once the estimate exceeds " +
    "cores x maxPartitionBytes — the production regime") {
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val df = spark.range(1000).toDF("id") // est 8000 B >= cores x 1
      assert(Par.widen(df) eq df, "widen must no-op at scale")
      assert(Par.widenChunked(df) eq df,
        "widenChunked must no-op at scale")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }

  test("widen is idempotent: an already-repartitioned frame is left alone") {
    val df = spark.range(10).toDF("id").repartition(3)
    assert(Par.widen(df) eq df)
    assert(Par.widenChunked(df) eq df)
  }

  test("streaming frames are never widened") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sparkS = spark
    import sparkS.implicits._
    val input = MemoryStream[Long](spark)
    val df = input.toDS().toDF("id")
    assert(Par.widen(df) eq df)
    assert(Par.widenChunked(df) eq df)
  }

  test("loopScope: a key the parent unsets does not stay live in the " +
    "reused clone") {
    val key = "spark.graft.widen.chunkBytes"
    def scoped() = Par.loopScope(spark, 1)(_.conf.getOption(key))
    spark.conf.set(key, "16")
    try assert(scoped() === Some("16"))
    finally spark.conf.unset(key)
    assert(scoped() === None, "the clone kept a key the parent unset")
  }
}
