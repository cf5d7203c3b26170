package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.{Audit, Caches, Counters}

/** Pins the round-15 measurement plumbing: the strict boolean env
  * parse behind the durability knob (ADVICE r14 — `TRUE`/`1` must not
  * silently leave a preemptible deployment in localCheckpoint mode),
  * the Counters/Audit candidate-volume instrumentation (VERDICT r14
  * item 3), and the blocking-release ordering fix (ADVICE r14 —
  * clearCache() deregisters SQL-cached RDDs before an after-the-fact
  * blocking sweep could see them). */
class AuditCountersSpec extends AnyFunSuite with SparkSpec {

  test("parseBoolEnv: normalized truthy/falsy table, fail-fast rest") {
    for (v <- Seq("true", "TRUE", " True ", "1", "yes", "ON"))
      assert(GraftSession.parseBoolEnv("K", v), v)
    for (v <- Seq("false", "FALSE", "0", "no", "off", "", "  "))
      assert(!GraftSession.parseBoolEnv("K", v), v)
    for (v <- Seq("maybe", "2", "t", "enabled"))
      assertThrows[IllegalArgumentException](
        GraftSession.parseBoolEnv("K", v))
  }

  test("Counters: max-per-name between drains, drain clears") {
    Counters.drain()
    Counters.record("c", 3L)
    Counters.record("c", 7L)
    Counters.record("c", 5L)
    Counters.record("d", 1L)
    assert(Counters.drain() == Map("c" -> 7L, "d" -> 1L))
    assert(Counters.drain().isEmpty, "drain must clear")
  }

  test("Audit.candidates: no-op when the conf is off, counts when on") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    Counters.drain()
    spark.conf.unset(Audit.CandidatesConf)
    val off = Audit.candidates("candidates", df)
    assert(off eq df, "off-path must return the frame untouched")
    assert(Counters.drain().isEmpty, "off-path must not count")
    spark.conf.set(Audit.CandidatesConf, "true")
    try {
      Audit.candidates("candidates", df).collect()
      assert(Counters.drain() == Map("candidates" -> 3L))
      Audit.candidates("candidates", df, persist = false)
      assert(Counters.drain() == Map("candidates" -> 3L))
    } finally {
      spark.conf.unset(Audit.CandidatesConf)
      Caches.releaseAll(spark, blocking = true)
    }
  }

  test("releaseAll(blocking) releases SQL-cached plans AND persisted " +
    "RDDs (the clearCache-deregisters-first ordering)") {
    import spark.implicits._
    val cached = Seq(1, 2, 3).toDF("x").persist()
    cached.count() // materialize into the SQL cache
    val local = Seq(4, 5).toDF("y").localCheckpoint()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Caches.releaseAll(spark, blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "all persistent RDDs deregistered")
    assert(cached.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "SQL cache entry dropped")
    // blocking removal: no RDD blocks remain resident in storage
    val resident = spark.sparkContext.getRDDStorageInfo
    assert(resident.isEmpty, s"resident RDD blocks after blocking " +
      s"release: ${resident.mkString(",")}")
    local.unpersist()
  }

  test("releaseAll(blocking) never races clearCache's async removal") {
    // clearCache() queues an async removal of every SQL-cached RDD; a
    // blocking unpersist of the same RDDs issued after it overlapped
    // that removal and intermittently failed with `Block rdd_N does
    // not exist`. Many-block frames widen the overlap window.
    (1 to 60).foreach { i =>
      val cached = spark.range(0, 20000, 1, 200).toDF("x").persist()
      cached.count()
      spark.range(0, 20000, 1, 200).toDF("y").localCheckpoint()
      Caches.releaseAll(spark, blocking = true)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, s"iteration $i")
    }
  }
}
