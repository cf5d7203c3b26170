package graft.util

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism for CPU-bound per-row stages (guide §2:
  * partitioning derived from the input, not a constant tuned for one
  * deployment).
  *
  * Spark sizes scan and shuffle partitions by BYTES
  * (`spark.sql.files.maxPartitionBytes`, AQE advisory sizes). For
  * operators whose cost is dominated by per-row CPU — regex/flag
  * batteries, Avro encode/decode, shingle hashing — over byte-small
  * inputs, the byte rule serializes the work: a 600 KB corpus plans as
  * ONE scan task, so a multi-second battery runs single-threaded on a
  * 32-core machine (measured r16: tp_dataset_build 14 jobs / 14 tasks,
  * 3.1 s of task time on one core).
  *
  * [[widen]] repartitions such a frame to the session's core count,
  * keyed on the optimizer's SIZE ESTIMATE (pure plan metadata — no job
  * runs): it fires only when the whole input is small enough that the
  * scan would plan fewer splits than cores
  * (estimate < cores × maxPartitionBytes). At real scale the estimate
  * is past the threshold, the frame already carries >= cores
  * partitions, and widen is an exact no-op — no shuffle added. When it
  * does fire, the one round-robin exchange moves at most
  * cores × maxPartitionBytes of input — the cheapness is implied by
  * the very precondition that triggered it.
  */
object Par {
  /** `gauge` is the frame whose size estimate drives the decision —
    * defaults to `df` itself. Pass the SCAN side explicitly when `df`
    * contains a checkpoint boundary or other leaf whose stats degrade
    * to the defaultSizeInBytes sentinel (a lazy localCheckpoint plans
    * as a LogicalRDD with "unknown = huge" stats, which would turn the
    * widen into a permanent no-op even on a 600 KB corpus). */
  def widen(df: DataFrame, gauge: DataFrame = null): DataFrame =
    widenImpl(df, gauge, chunked = false)

  /** Byte-proportional variant for stages whose CPU-per-byte is too
    * LOW to amortize a full core-count fan-out on a byte-small input
    * (r17 widen audit: splitting a sub-second split/explode/hash pass
    * into 32 tasks measured 1.2-1.9× WORSE wall at bench scale — the
    * per-task overhead grows with thread count). Width derives from
    * the size estimate: `ceil(est / spark.graft.widen.chunkBytes)`
    * capped at the core count — an EXACT no-op while the input is
    * under one chunk (bench scale: the A/B-optimal shape) and
    * approaching the full fan-out as the input grows (the sf10 decade:
    * dd_minhash_groups read +15% with the r16 fan-out simply removed;
    * this restores the scale arm without re-paying the bench-scale
    * loss). The default chunk (4m) is measurement-derived: the light
    * per-row passes this variant guards cost well under a second of
    * CPU per 4 MB, the regime where the fan-out's ~0.1-0.5 s/task
    * overhead dominates; override via conf for other hardware. */
  def widenChunked(df: DataFrame, gauge: DataFrame = null): DataFrame =
    widenImpl(df, gauge, chunked = true)

  private def widenImpl(df: DataFrame, gauge: DataFrame,
      chunked: Boolean): DataFrame = {
    if (df.isStreaming) return df // micro-batches size themselves
    // idempotence: operators compose (the dataset-build feeds a widened
    // survivor frame into spanExcision, which widens its own input) —
    // a second round-robin exchange on top of an existing repartition
    // is pure cost, so a frame that already carries one is left alone
    val hasRepartition = df.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical
        .RepartitionOperation => true
      case _ => false
    }
    if (hasRepartition) return df
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxPartitionBytes =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val g = if (gauge == null) df else gauge
    val estBytes = g.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes >= BigInt(cores.toLong) * maxPartitionBytes) return df
    val parts =
      if (!chunked) cores
      else {
        val chunk = BigInt(org.apache.spark.network.util.JavaUtils
          .byteStringAsBytes(
            spark.conf.get("spark.graft.widen.chunkBytes", "4m")))
        val want = (estBytes + chunk - 1) / chunk
        want.min(BigInt(cores)).toInt
      }
    if (parts <= 1) df else df.repartition(parts)
  }

  /** Rebind a frame to another session of the SAME SparkContext —
    * zero data movement, the analyzed plan is simply replanned under
    * the target session's conf. Used to move loop operands into a
    * [[loopScope]] session and results back out (checkpoint leaves
    * rebind exactly: a LogicalRDD is session-independent). */
  def rebind(spark: org.apache.spark.sql.SparkSession, df: DataFrame)
      : DataFrame =
    org.apache.spark.sql.graft.PlanBridge.ofRows(
      spark, df.queryExecution.analyzed)

  /** Iterative-kernel loop scope (r16, guide §1.2/§2.4): run `body`
    * against a session whose conf has AQE OFF and shuffle partitions
    * pinned to `parts`. For a loop whose per-round plan shape is fully
    * known (CC label propagation, BPE merge rounds, power iteration),
    * AQE's per-exchange re-optimization buys nothing and costs one
    * scheduled job per exchange per round — measured r16: gr_cc ran 76
    * jobs for 7 rounds under AQE, ~40 ms each of pure scheduling.
    * `parts` must be DERIVED from the materialized loop operand (e.g.
    * its checkpoint's AQE-coalesced partition count), never a
    * constant: that keeps the scope scale-adaptive — single-task
    * rounds at bench scale, cluster-wide rounds on a cluster-sized
    * operand.
    *
    * The scope is a CLONED session (`newSession`: shared context,
    * catalog and blocks; PRIVATE SQLConf), not a set/restore on the
    * caller's session — VERDICT r16 item 4: session-global conf flips
    * are visible to every other thread, so a concurrent query on the
    * shared session could catch a 1-partition AQE-off plan. The body
    * receives the scoped session and must [[rebind]] its operands into
    * it (frames keep the session they were created on — conf set on a
    * clone does not affect a parent-session frame). */
  // one cached clone per (parent session, thread): building a fresh
  // SessionState per loopScope call measured +0.3-0.5 s per query
  // (gr_pagerank 1.78 → 2.32 s, tc_bpe_merges 1.36 → 1.68 s, quiet
  // samples). Per-thread keying keeps concurrent loops isolated; the
  // conf is re-synced with the parent on EVERY call, so reuse changes
  // no semantics. A clone whose context has stopped is rebuilt on its
  // thread's next call; the map itself is never pruned (one entry per
  // parent session).
  private val scopedSessions = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.SparkSession,
    ThreadLocal[org.apache.spark.sql.SparkSession]]()

  def loopScope[T](spark: org.apache.spark.sql.SparkSession, parts: Int)
      (body: org.apache.spark.sql.SparkSession => T): T = {
    val tl = scopedSessions.computeIfAbsent(spark,
      _ => new ThreadLocal[org.apache.spark.sql.SparkSession]())
    var scoped = tl.get()
    if (scoped == null || scoped.sparkContext.isStopped) {
      scoped = spark.newSession()
      // session-scoped optimizer rules / strategies do not clone
      graft.GraftCatalog.installOptimizations(scoped)
      tl.set(scoped)
    }
    // carry the parent's RUNTIME conf (tuneForData ceilings, checkpoint
    // durability mode, …) fresh on every call: newSession starts from
    // builder-time options only, and the parent may have been retuned
    // since the clone was cached — including keys it has since unset,
    // which must not stay live in the clone. Static/immutable entries
    // throw — skip them.
    val parent = spark.conf.getAll
    scoped.conf.getAll.keys.filterNot(parent.contains).foreach { k =>
      try scoped.conf.unset(k) catch { case _: Throwable => }
    }
    parent.foreach { case (k, v) =>
      try scoped.conf.set(k, v) catch { case _: Throwable => }
    }
    scoped.conf.set("spark.sql.adaptive.enabled", "false")
    scoped.conf.set("spark.sql.shuffle.partitions",
      math.max(1, parts).toString)
    body(scoped)
  }
}
