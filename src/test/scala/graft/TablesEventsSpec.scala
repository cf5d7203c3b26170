package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The events-table ts normalization across generator layouts — the
  * round-7 breakage class: the driver regenerated testdata with a
  * different parquet timestamp encoding and every event query failed.
  * `Tables.events` must map any known layout to the identical
  * session-TZ TIMESTAMP. */
class TablesEventsSpec extends SparkSpec {

  test("integer scale detection: bands classify unambiguously") {
    val us = 1723617000000000L // ~2024 in micros
    assert(Tables.microsScale(us * 1000) === ((1L, 1000L)))  // nanos
    assert(Tables.microsScale(us) === ((1L, 1L)))            // micros
    assert(Tables.microsScale(us / 1000) === ((1000L, 1L)))  // millis
    assert(Tables.microsScale(us / 1000000) === ((1000000L, 1L)))
    // band edges 6 orders apart: 2001..2286 epochs cannot straddle
    assert(Tables.microsScale(978307200L * 1000000L) === ((1L, 1L)))
  }

  test("all integer layouts normalize to the same timestamps") {
    val sparkS = spark
    import sparkS.implicits._
    val us = Seq(1723617000000000L, 1723617000123456L)
    def write(dir: String, vals: Seq[Long]): Unit =
      vals.toDF("ts").withColumn("event_id", lit(1L))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val base = tempDir("events_layouts").toString
    try {
      write(s"$base/nanos", us.map(_ * 1000))
      write(s"$base/micros", us)
      write(s"$base/millis", us.map(_ / 1000))
      val got = Seq("nanos", "micros", "millis").map { l =>
        Tables.events(spark, s"$base/$l")
          .select(unix_micros(col("ts"))).orderBy("ts")
          .collect().map(_.getLong(0)).toSeq
      }
      assert(got(0) === us.sorted)
      assert(got(1) === us.sorted)
      // millis loses the sub-ms part by construction
      assert(got(2) === us.map(_ / 1000 * 1000).sorted)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(base))
    }
  }
}
