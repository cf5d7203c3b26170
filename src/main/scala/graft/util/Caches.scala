package graft.util

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Session-level cache hygiene for long-lived Spark sessions running
  * many graft operators (Bench, Verify, a notebook, a service).
  *
  * Two leak classes this fixes, both measured in the round-5 bench:
  *
  *  1. `spark.catalog.clearCache()` drops only SQL-cache entries
  *     (`Dataset.persist`). The suite's `localCheckpoint()` calls store
  *     RDD blocks that clearCache does NOT release — they free only
  *     when the driver GCs the RDD object and ContextCleaner reaps it.
  *     Across ~190 queries the blocks accumulated, LRU-evicted, and
  *     spilled, inflating later queries 7-21× vs their standalone time.
  *     [[releaseAll]] unpersists every registered RDD (localCheckpoint
  *     registers its blocks through `RDD.persist`, so they appear in
  *     `sc.getPersistentRDDs`) and nudges ContextCleaner via GC so
  *     broadcast/shuffle state from dead plans is reaped too.
  *
  *  2. Re-running an operator that `.persist()`s a deterministic plan
  *     (a warm benchmark run, a retried job) re-registers the identical
  *     normalized plan and logs `WARN CacheManager: Asked to cache
  *     already cached data` — harmless but it masks real double-cache
  *     bugs. [[persistOnce]] checks `Dataset.storageLevel` (a
  *     CacheManager lookup by plan) and only persists when the plan is
  *     not already cached, keeping warm-run reuse silent.
  */
object Caches {

  /** `persist()` that is a no-op when this plan is already in the SQL
    * cache — same semantics, no CacheManager warning on re-entry. */
  def persistOnce[T](ds: Dataset[T]): Dataset[T] =
    if (ds.storageLevel == StorageLevel.NONE) ds.persist() else ds

  /** Release ALL session cache state: SQL-cached plans, persisted RDDs
    * (including localCheckpoint blocks), and — via a GC nudge —
    * ContextCleaner-tracked broadcast/shuffle state of unreachable
    * plans. Call between logically independent jobs in a long-lived
    * session; never mid-query (in-flight plans would recompute, and a
    * localCheckpointed plan, whose lineage is truncated, would fail).
    *
    * `blocking = false` (default) fires removals asynchronously — the
    * right call in a serving session, where the next query must not
    * stall on block deletion. Measurement contexts pass
    * `blocking = true`: async removal leaves the PREVIOUS query's
    * blocks resident while the next one runs, and at 10×-bench scale
    * that residue (GBs of signature/checkpoint blocks left by a 60 s
    * neighbor) inflated the queries that follow up to 2.5× in the r14
    * sf10 sweep — a measurement artifact, not a plan property.
    *
    * Order matters. Every registered RDD — SQL-cache entries included —
    * is unpersisted FIRST, then `clearCache()` drops the SQL cache
    * registry. The reverse order had two faults: `clearCache()`
    * deregisters its RDDs from `sc.getPersistentRDDs`, so a sweep after
    * it misses them, and it queues an ASYNC removal of those same RDDs
    * that a blocking unpersist issued next overlapped. Two concurrent
    * removals of one RDD race inside the block manager and
    * intermittently fail with `Block rdd_N does not exist`. Unpersisting
    * first means the removal clearCache later queues finds no blocks
    * left. */
  def releaseAll(spark: SparkSession, blocking: Boolean = false): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = blocking))
    spark.catalog.clearCache()
    // localCheckpoint/broadcast cleanup is reference-triggered: blocks
    // free when ContextCleaner sees the driver-side object collected
    System.gc()
  }

  /** Bounded session memo keyed by (session, canonicalized source
    * plan, extra key) — the ONE implementation of the "model-state
    * cache" idiom (gram/signature index tables, Bloom bitsets), so the
    * bound/eviction/staleness story lives in one place. Canonicalized
    * plans are alias/exprId-normalized: syntactic re-creations of the
    * same read hit the entry. The SparkSession is part of the key — a
    * value built against one session's relations must not serve
    * another's.
    *
    * Eviction (the wholesale clear at `maxEntries`, and
    * [[invalidate]]) runs `onEvict` on every dropped value — a memo of
    * persisted DataFrames unpersists them there, so clearing the LAST
    * HANDLE to a cached plan can never strand its blocks in the block
    * manager (the accumulation→eviction→spill pathology
    * [[releaseAll]] exists to mop up). */
  /** Memo traffic counters, aggregated across every [[PlanMemo]]:
    * `gets` = lookups, `builds` = misses that ran the builder; hits =
    * gets − builds. The concurrent bench leg reports these to prove
    * the model-state memos neither stampede (ConcurrentHashMap
    * `computeIfAbsent` runs the builder at most once per key — racing
    * threads block on the winner) nor thrash under concurrency. */
  private val memoGets = new java.util.concurrent.atomic.AtomicLong()
  private val memoBuilds = new java.util.concurrent.atomic.AtomicLong()
  def memoStats: (Long, Long) = (memoGets.get(), memoBuilds.get())

  /** Every live [[PlanMemo]] (they are object-level vals in their
    * users — a bounded handful, registered once at class init).
    * [[invalidateAllMemos]] lets a measurement harness reset ALL
    * model state so a concurrent leg starts from the build-race
    * scenario it claims to test (VERDICT r14 item 2a). */
  private val memoRegistry =
    new java.util.concurrent.ConcurrentLinkedQueue[PlanMemo[_, _]]()

  def invalidateAllMemos(): Unit = {
    val it = memoRegistry.iterator()
    while (it.hasNext) it.next().invalidate()
  }

  final class PlanMemo[K, V](maxEntries: Int,
      onEvict: V => Unit = (_: V) => ()) {
    // map MUST initialize before the registry publication below: the
    // reverse order leaked `this` with a null map, and an
    // invalidateAllMemos() racing a first-touch lazy-object init of a
    // memo owner (concurrent-leg classloading) could NPE (ADVICE r15)
    private val map = new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, LogicalPlan, Long, K), V]()
    memoRegistry.add(this)

    def get(source: DataFrame, key: K)(build: => V): V = {
      if (map.size >= maxEntries) invalidate()
      memoGets.incrementAndGet()
      // the data fingerprint (file listing + size of every file-backed
      // leaf) joins the canonicalized plan in the key: a canonicalized
      // file scan is just the path, so a parquet dir rewritten
      // mid-session would otherwise serve a stale memoized model. A
      // caller must still RE-READ the path after a rewrite (a held
      // DataFrame pins the old file listing — and those files are
      // gone); the fingerprint makes the fresh read miss the memo.
      map.computeIfAbsent((source.sparkSession,
        source.queryExecution.analyzed.canonicalized,
        org.apache.spark.sql.graft.FingerprintBridge
          .dataFingerprint(source), key),
        _ => { memoBuilds.incrementAndGet(); build })
    }

    def invalidate(): Unit = {
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        it.remove()
        onEvict(e.getValue)
      }
    }
  }
}
