package graft.util

import org.apache.spark.sql.DataFrame

/** Driver-side long-valued telemetry: kernels `record` named counts,
  * the bench drains after each query and attributes them to that query.
  * Iterative kernels record their round count under `rounds.<kernel>`
  * (CC label propagation, PageRank iterations): a wall-clock slope
  * across a data decade is only interpretable next to the number of
  * rounds it took, so the sf10 sweep reads them into SCALE.json. The
  * CANDIDATE-PAIR counts of the similarity-join kernels (VERDICT r14
  * item 3 — the sf10 slopes of
  * `sim_neardup_groups` (9.49) and `dd_ngram_jaccard` (8.34) ride the
  * top of the linear band, and whether that is superlinear CANDIDATE
  * growth (fix the blocking) or a densifying corpus answering more
  * (operator fine) was an inference, not a measurement; the counter
  * makes it one).
  *
  * Thread-safe; `record` keeps the MAX per name between drains (cold +
  * warm bench runs both record the same deterministic count) — EXCEPT
  * names ending in `_ms`, which are wall timings and keep the MIN: the
  * query wall they decompose is itself min-of-runs, and max semantics
  * would report each stage's SLOWEST materialization (possibly from
  * different runs), letting the breakdown exceed and misattribute the
  * wall it explains (ADVICE r15). Min-per-stage across runs can still
  * undershoot the min wall, but never inflates past it. */
object Counters {
  private val log =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def record(name: String, value: Long): Unit = {
    val takeMin = name.endsWith("_ms")
    log.merge(name, Long.box(value),
      (a, b) =>
        Long.box(if (takeMin) math.min(a.longValue(), b.longValue())
                 else math.max(a.longValue(), b.longValue())))
  }

  /** Snapshot and clear — returns name → value recorded since the last
    * drain. */
  def drain(): Map[String, Long] = {
    val out = scala.collection.mutable.Map.empty[String, Long]
    val it = log.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); out(e.getKey) = e.getValue.longValue()
      it.remove()
    }
    out.toMap
  }
}

/** Opt-in measurement instrumentation, OFF on every normal path: the
  * counts below cost an extra action over an intermediate frame, which
  * is exactly the kind of hidden work a bench timing must not carry.
  * A sweep that wants the attribution sets [[Audit.CandidatesConf]]
  * (env hook `SPARK_GRAFT_AUDIT=true`) and runs a SEPARATE pass whose
  * times are not merged — results are identical either way (the audit
  * only counts; `persist = true` additionally materializes the frame
  * the count already computed, so downstream consumers reuse instead
  * of recomputing). */
object Audit {
  val CandidatesConf = "spark.graft.audit.candidates"

  def enabled(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption(CandidatesConf).contains("true")

  /** Record `df`'s row count under `name` when auditing is on; no-op
    * (returns `df` untouched, zero extra work) when off. `persist`
    * keeps the counted frame for downstream reuse — right for slim
    * pair frames; pass false for embedding-wide frames, where a
    * recomputed lightweight count beats materializing wide rows. */
  def candidates(name: String, df: DataFrame,
      persist: Boolean = true): DataFrame =
    if (!enabled(df.sparkSession)) df
    else if (persist) {
      val p = Caches.persistOnce(df)
      Counters.record(name, p.count())
      p
    } else {
      Counters.record(name, df.count())
      df
    }
}
