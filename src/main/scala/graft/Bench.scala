package graft
import graft.util.HostSteal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus
    val spark = GraftSession.get(cpus.toString)
    // partition-count ceiling follows the DATA SCALE (VERDICT r13
    // item 6): derived from the input dir's on-disk bytes — bench
    // scale clamps to cpu-count (the measured optimum for 238 small
    // queries; a blanket 16× cost +10% total), the sf10 decade derives
    // ~128 so heavy shuffles split by bytes instead of spilling
    // (dd_ngram_jaccard: 16 GB spill through 8 partitions, zero at
    // 128).
    val partCeiling = GraftSession.tuneForData(spark, sfDir)
    System.err.println(s"[bench] partition ceiling $partCeiling")
    // untimed warm-up: JVM/codegen/file-listing costs land here, not on
    // whichever query happens to run first
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      spark.read.parquet(s"$sfDir/documents.parquet").count()
    } catch { case _: Throwable => }
    // two timed runs per query, report the better: the first run pays
    // one-off plan + whole-stage-codegen compilation (~0.2 s/plan),
    // which a long-lived cluster amortizes across thousands of
    // executions; the warm run measures steady-state execution
    // a failed query is reported as -1, never as its (misleadingly
    // fast) elapsed time
    // optional comma-separated allow-list for single-query iteration
    // (dev loop only — the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // committed per-query reference (the repo's BENCH_LAST.json, read
    // BEFORE this run overwrites it): any query whose best time lands
    // past 3× its reference gets up to two extra runs — a steal spike
    // self-heals, a genuine regression survives and is flagged
    val committedRef: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_LAST.json")), "UTF-8")
      val qStart = txt.indexOf("\"queries\":{")
      if (qStart < 0) Map.empty
      else {
        val body = txt.substring(qStart + "\"queries\":{".length,
          txt.indexOf('}', qStart))
        "\"([^\"]+)\":(-?[0-9.eE+]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }
    // host-steal telemetry: a CPU-steal spike on one query's two runs
    // once forged a 2.8× phantom "regression". Record the steal delta
    // (graft.util.HostSteal) per query and for the whole run, so an
    // outlier time arrives with its own attribution.
    val runSteal0 = HostSteal.jiffies()
    val steals = scala.collection.mutable.Map.empty[String, Double]
    val noiseSuspect = scala.collection.mutable.ArrayBuffer.empty[String]
    var rerunsTotal = 0
    // per-query spill audit (VERDICT r6 item 8): a query that silently
    // falls out of memory at bench scale is a scale bug — surface it
    // in the bench JSON so rounds can regress against zero
    val spills = scala.collection.mutable.Map.empty[String, Long]
    // cold-run times per query (the run that pays shared-index builds
    // and codegen): mirrored to BENCH_LAST.json as "queries_cold" so a
    // reported (warm) time that regresses can be attributed — a cold
    // jump with a stable warm means the query landed an index build,
    // not a plan regression
    val colds = scala.collection.mutable.Map.empty[String, Double]
    // output rows per query: a slope is only interpretable next to the
    // RESULT growth it carries (the sf10 sweep's near-dup queries grow
    // superlinearly in wall because the ANSWER grows superlinearly on
    // decade-stacked near-duplicate corpora — rows make that visible)
    val rows = scala.collection.mutable.Map.empty[String, Long]
    // iterative-kernel round counts per query (the `rounds.*` keys of
    // graft.util.Counters): the scale sweeps report these next to the
    // wall slopes — a CC closure whose round count grows with the
    // decade is a different scale story than one whose rounds hold flat
    val rounds = scala.collection.mutable.Map.empty[String, Int]
    // audit counters (candidate-pair volumes): populated only when the
    // session runs with SPARK_GRAFT_AUDIT=true — a sweep's attribution
    // pass, never a timing pass (the counts cost extra actions)
    val cands = scala.collection.mutable.Map.empty[String, Long]
    // audit-mode candidate counts at the scaled-up blocking key
    val candsScaled = scala.collection.mutable.Map.empty[String, Long]
    // audit-mode stage-timing breakdowns (stage_<name>_ms counters)
    val stages = scala.collection.mutable.Map.empty[String, Map[String, Long]]
    graft.util.Counters.drain() // clear anything the warm-up recorded
    val results = selected.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, sfDir)
            // same plan Dataset.count() compiles, but kept as a handle:
            // the spill audit must read the QueryExecution that RAN —
            // df.count() executes a derived query and leaves df's own
            // metrics untouched (zero), which made the audit vacuous
            val counted = df.groupBy().count()
            rows(name) = counted.collect()(0).getLong(0)
            val el = (System.nanoTime() - t0) / 1e9
            // max over the cold/warm runs, not sum — the metric is
            // "bytes one execution spills", parallel to min() timing
            val sp = graft.util.SpillAudit.spillBytes(counted)
            if (sp > 0)
              spills(name) = math.max(spills.getOrElse(name, 0L), sp)
            el
          }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              -1.0
          }
        }
        val qSteal0 = HostSteal.jiffies()
        val cold = once(); val warm = once()
        colds(name) = cold
        var best = if (cold < 0 || warm < 0) -1.0 else math.min(cold, warm)
        // outlier self-heal: past 3× the committed reference (and past
        // an absolute floor so sub-second jitter never triggers it),
        // retry up to twice — min(cold, warm) of exactly two runs lets
        // one steal spike spanning both forge a regression
        val refT = committedRef.get(name).filter(_ > 0)
        def isOutlier = best > 0.5 &&
          refT.exists(r => best > 3 * r)
        var reruns = 0
        while (best >= 0 && isOutlier && reruns < 2) {
          val t = once()
          if (t >= 0 && t < best) best = t
          reruns += 1
          rerunsTotal += 1
        }
        val qSteal = HostSteal.secondsSince(qSteal0)
        if (qSteal > 0) steals(name) = qSteal
        if (best >= 0 && Bench.isNoiseSuspect(best, refT, qSteal))
          noiseSuspect += name
        // stderr diagnostic (driver parses stdout only): the cold/warm
        // split attributes shared-index build cost vs steady-state
        System.err.println(
          f"[bench] $name cold=$cold%.3f warm=$warm%.3f" +
            (if (reruns > 0) f" reruns=$reruns best=$best%.3f" else "") +
            (if (qSteal > 0) f" steal=$qSteal%.2fs" else ""))
        // release this query's persisted intermediates (signature
        // tables, prefix indexes, PQ codes, localCheckpoint blocks ...)
        // before the next query runs: caches legitimately persist
        // WITHIN a query's two runs, but letting ~190 queries' blocks
        // accumulate in one session drove LRU eviction + disk spill
        // that inflated later measurements 7-21× (round 5: clearCache
        // alone left localCheckpoint RDD blocks registered — see
        // graft.util.Caches). BLOCKING: async removal leaves the
        // previous query's blocks resident while this one runs — at
        // sf10 that residue inflated fj1 2.5× (r14 sweep)
        // hygiene must not kill the measurement run: a failed release
        // is reported loudly (the next query's numbers may then carry
        // residue — attributable from stderr) instead of aborting the
        // remaining ~200 queries
        try graft.util.Caches.releaseAll(spark, blocking = true)
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] cache release after $name " +
              s"failed: ${e.getMessage}")
        }
        val ctrs = graft.util.Counters.drain()
        val rds = ctrs.collect { case (k, v) if k.startsWith("rounds.") => v }
        if (rds.nonEmpty) rounds(name) = rds.max.toInt
        ctrs.get("candidates").foreach(cands(name) = _)
        ctrs.get("candidates_scaled_bits")
          .foreach(candsScaled(name) = _)
        val st = ctrs.collect { case (k, v) if k.startsWith("stage_") &&
          k.endsWith("_ms") =>
          k.stripPrefix("stage_").stripSuffix("_ms") -> v }
        if (st.nonEmpty) stages(name) = st
        name -> best
    }.toMap
    val total =
      if (results.nonEmpty) results.values.filter(_ >= 0).sum else 0.0
    // streaming backlog-replay throughput (VERDICT r5 item 7): events/s
    // through ChangeLogSource → tx grouping → checkpointed parquet sink
    // with Trigger.AvailableNow. Generation is untimed; failures report
    // -1 rather than killing the query bench.
    // (full, stdout-compact): the full string goes to BENCH_LAST.json;
    // the compact one rides the stdout line with a HARD-BOUNDED length
    // (no attempts array / rocksdb map / latency histogram — VERDICT
    // r16 item 2: in noisy windows those sections grew unbounded and
    // evicted every per-query entry from the stdout JSON)
    val (streamReplay: String, streamReplayStdout: String) = {
      val skip = only.isDefined // dev allow-list → query iteration only
      val work = "/tmp/graft_bench_replay"
      val workPath = new org.apache.hadoop.fs.Path(work)
      val fs = workPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // fresh dir per run: a leftover log from a previous run at a
      // different SF would fail the (append-only) generator, and a
      // reused checkpoint would see the log committed and no-op
      if (skip) ("", "") else try {
        fs.delete(workPath, true)
        // micro-batch latency probe FIRST, BEFORE the 10× backlog drain
        // (VERDICT r14 item 2 tail): it measures per-batch trigger
        // latency on a 1× log under capped admission — the steady-state
        // tailing shape — and running it AFTER the big drain let that
        // leg's 32 still-loaded RocksDB stores (and their background
        // maintenance snapshots) pollute the probe's batches (r14: p50
        // 763 ms vs r13's 303 at IDENTICAL batch count/size, commit_p50
        // flat — interference, not state cost). A tail-follow consumer
        // sizes its state to per-trigger volume: every micro-batch pays
        // load + commit per state partition, so the probe runs 4-way
        // state (FRONTIER.json has the grid). Its own try: a probe
        // failure must not discard the throughput numbers measured
        // below. The regime field says what the distribution describes.
        val latency = try {
          streaming.ReplayBench.generateLog(spark, sfDir, s"$work/log1x")
          val l = streaming.ReplayBench.drain(spark, s"$work/log1x",
            s"$work/latency", cap = 4096, statePartitions = Some(4))
          s""","batches":${l.batches.size},"batch_latency_ms":{"regime":"capped_admission_1x_backlog","p50":${
            "%.0f".format(l.trigger(0.5))},"p95":${
            "%.0f".format(l.trigger(0.95))},"max":${
            "%.0f".format(l.trigger(1))},"commit_p50":${
            "%.0f".format(l.commit(0.5))},"commit_p95":${
            "%.0f".format(l.commit(0.95))}}"""
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] latency probe failed: ${e.getMessage}")
            ""
        }
        // median of 3 drains over one generated log (VERDICT r12
        // item 1, superseding r9's best-of-2): the reported number is
        // the MEDIAN attempt, and every attempt ships its own wall /
        // steal / state-commit triple so a steal-inflated driver round
        // is self-describing — a real state-store regression shows up
        // in state_commit_ms across all attempts, a steal spike shows
        // up in one attempt's steal_sec
        // 10× backlog (VERDICT r13 item 3): a ~2 s drain measured
        // RocksDB commit file-sync variance (16.7 s vs 0.3 s across
        // otherwise-identical runs), not the pipe; at 10× the fixed
        // per-commit costs amortize to a few percent
        val backlogCopies = 10
        val rSteal0 = HostSteal.jiffies()
        val lines = streaming.ReplayBench.generateLog(
          spark, sfDir, s"$work/log", copies = backlogCopies)
        val attempts = (0 until 3).map(i =>
          streaming.ReplayBench.drain(spark, s"$work/log", s"$work/sink$i"))
        val med = attempts.sortBy(_.sec)(Ordering.Double.TotalOrdering)
          .apply((attempts.size - 1) / 2)
        val rSteal = HostSteal.secondsSince(rSteal0)
        if (rSteal > 0) steals("stream_replay") = rSteal
        val attemptsJson = attempts.map(a =>
          s"""{"sec":${"%.3f".format(a.sec)},"steal_sec":${
            "%.2f".format(a.stealSec)},"state_commit_ms":${
            a.commitMs}}""").mkString("[", ",", "]")
        // RocksDB commit/load-path totals of the MEDIAN attempt (ms;
        // rocksdbSstFileSize = state-on-disk bytes summed over batches)
        val rocksJson =
          if (med.rocksdb.isEmpty) ""
          else s""","rocksdb":${med.rocksdb.toSeq.sortBy(_._1)
            .map { case (k, v) => "\"" + k + "\":" + v }
            .mkString("{", ",", "}")}"""
        graft.util.Caches.releaseAll(spark, blocking = true)
        // events_per_sec = LOG LINES/s (incl. begin/commit markers —
        // the source-side drain rate); mutations_per_sec = sink rows/s,
        // the marker-fraction-independent number to regress on
        val full =
          s""","stream_replay":{"events":$lines,"backlog_copies":$backlogCopies,"mutations_out":${med.out},"sec":${"%.3f".format(med.sec)},"events_per_sec":${"%.0f".format(lines / med.sec)},"mutations_per_sec":${"%.0f".format(med.out / med.sec)},"state_commit_ms":${med.commitMs},"attempts":$attemptsJson$rocksJson$latency}"""
        val compact =
          s""","stream_replay":{"events":$lines,"sec":${"%.3f".format(med.sec)},"events_per_sec":${"%.0f".format(lines / med.sec)},"mutations_per_sec":${"%.0f".format(med.out / med.sec)},"state_commit_ms":${med.commitMs},"attempts_n":${attempts.size}}"""
        (full, compact)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] stream_replay failed: ${e.getMessage}")
          val f = ""","stream_replay":{"events_per_sec":-1}"""
          (f, f)
      } finally fs.delete(workPath, true)
    }
    // concurrent-serving leg (VERDICT r13 item 7, reworked r15 per
    // VERDICT r14 item 2): a shared 100 TB engine serves many sessions
    // at once, and AQE + broadcast + the model-state memos all
    // interact under concurrency. Four threads each run a mix through
    // their own FAIR pool (pools declared in fairscheduler.xml): the
    // 22 TPC-H analogs (scan/join/agg serving load) PLUS the
    // memo-backed model queries — Bloom semi-join, fuzzy blocking,
    // IVF + PQ ANN, quality classifier — so the memo gets/builds
    // counters measure REAL concurrent traffic (r14's mix touched no
    // memo user; both counters read 0 and the stampede claim was
    // tested by zero traffic). The memos are invalidated up-front so
    // the leg's first touches RACE to build each model — builds must
    // not exceed distinct models (computeIfAbsent blocks racing
    // threads on one builder).
    //
    // Decomposition instead of retry-until-green (VERDICT r15 item 3):
    // each thread runs the mix TWICE — lap 0 pays the first-touch
    // costs (racing model-state memo builds + whole-stage-codegen JIT
    // for these plan shapes under concurrency), lap 1 is the
    // steady-state serving the committed ≤~2× claim is about. The two
    // laps report separate inflation percentiles, so a cold first
    // attempt (r15 drivers saw 9.15 → 2.27 across retries) is
    // EXPLAINABLE from its own artifact — first_touch_p95 owns the
    // build+JIT cost, steady_p95 carries the contention claim — and
    // the retry loop keys on steady_p95 only (up to two retries for a
    // steal-noisy window, with every attempt's numbers alongside and
    // a noise_suspect verdict when the final number still misses under
    // recorded steal).
    val (concurrentJson: String, concurrentDecomp: String,
        concurrentStdout: String) = {
      if (only.isDefined) ("", "", "") else try {
        val nThreads = 4
        val memoBacked = Seq("j3_bloom_semi", "fj1_fuzzy_join",
          "sim_ivf_ann", "sim_pq_ann", "ql_classifier")
        val names = (SparkEntry.queries.keys
          .filter(_.matches("q\\d+_.*")).toSeq ++ memoBacked).sorted
        // first-touch inflation reference: TPC-H analogs compare
        // against their serial BEST; the memo-backed queries compare
        // against their serial COLD run — lap 0 starts them model-less
        // by construction, and measuring a build-paying sample against
        // a memo-hit reference would report the build as "contention"
        val refFirst = names.flatMap { n =>
          val r = if (memoBacked.contains(n)) colds.get(n)
                  else results.get(n)
          r.filter(_ > 0).map(n -> _)
        }.toMap
        // steady-state reference: serial warm best for EVERY query —
        // by lap 1 the models are memoized and the plans JIT'd
        val refSteady = names.flatMap { n =>
          results.get(n).filter(_ > 0).map(n -> _)
        }.toMap
        case class Lap(p50: Double, p95: Double, max: Double)
        case class Attempt(wall: Double, first: Lap, steady: Lap,
          steal: Double, spill: Long, fails: Int,
          gets: Long, builds: Long,
          perQuery: Map[String, (Double, Double)])
        def runOnce(): Attempt = {
          graft.util.Caches.invalidateAllMemos()
          val memo0 = graft.util.Caches.memoStats
          val times = new java.util.concurrent.ConcurrentHashMap[
            (Int, Int, String), Double]()
          val spillSum = new java.util.concurrent.atomic.AtomicLong()
          val fails = new java.util.concurrent.atomic.AtomicInteger()
          val cSteal0 = HostSteal.jiffies()
          val t0 = System.nanoTime()
          val threads = (0 until nThreads).map { ti =>
            val t = new Thread(() => {
              // thread-local job property: this thread's queries
              // schedule in their own FAIR pool
              spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", s"serve$ti")
              (0 to 1).foreach { lap =>
                names.foreach { n =>
                  val q0 = System.nanoTime()
                  try {
                    val counted = SparkEntry.queries(n)(spark, sfDir)
                      .groupBy().count()
                    counted.collect()
                    spillSum.addAndGet(
                      graft.util.SpillAudit.spillBytes(counted))
                    times.put((ti, lap, n),
                      (System.nanoTime() - q0) / 1e9)
                  } catch {
                    case e: Throwable =>
                      fails.incrementAndGet()
                      System.err.println(
                        s"[bench] concurrent $n (thread $ti lap $lap) " +
                          s"failed: ${e.getMessage}")
                  }
                }
              }
            }, s"graft-serve-$ti")
            t.start(); t
          }
          threads.foreach(_.join())
          val wall = (System.nanoTime() - t0) / 1e9
          val cSteal = HostSteal.secondsSince(cSteal0)
          graft.util.Caches.releaseAll(spark, blocking = true)
          graft.util.Counters.drain()
          val memo1 = graft.util.Caches.memoStats
          import scala.jdk.CollectionConverters._
          val all = times.asScala.toMap
          def lapStats(lap: Int, ref: Map[String, Double]): Lap = {
            val infl = all.toSeq.collect {
              case ((_, l, n), t) if l == lap && ref.contains(n) =>
                t / ref(n)
            }
            if (infl.isEmpty) Lap(-1, -1, -1)
            else Lap(streaming.ReplayBench.percentile(infl, 0.50),
              streaming.ReplayBench.percentile(infl, 0.95), infl.max)
          }
          // per-query decomposition: min across threads per lap — the
          // steal-robust estimator; first − steady is that query's
          // first-touch overhead (model build + JIT) under concurrency
          val perQuery = names.flatMap { n =>
            def minOf(lap: Int): Option[Double] = {
              val ts = (0 until nThreads).flatMap(ti =>
                all.get((ti, lap, n)))
              if (ts.isEmpty) None else Some(ts.min)
            }
            for (f <- minOf(0); s <- minOf(1)) yield n -> (f, s)
          }.toMap
          Attempt(wall, lapStats(0, refFirst), lapStats(1, refSteady),
            cSteal, spillSum.get(), fails.get(),
            memo1._1 - memo0._1, memo1._2 - memo0._2, perQuery)
        }
        // bar on STEADY-STATE p95 = the committed claim (~2×) with
        // jitter margin; the first-touch lap is reported, not gated
        val bar = 2.5
        val attempts = scala.collection.mutable.ArrayBuffer(runOnce())
        while (attempts.last.steady.p95 > bar && attempts.size < 3)
          attempts += runOnce()
        val b = attempts.minBy(_.steady.p95)
        val attemptsJson = attempts.map(a =>
          s"""{"wall_sec":${"%.3f".format(a.wall)},"first_p95":${
            "%.2f".format(a.first.p95)},"steady_p95":${
            "%.2f".format(a.steady.p95)},"steal_sec":${
            "%.2f".format(a.steal)}}""").mkString("[", ",", "]")
        val noiseSus = b.steady.p95 > bar && attempts.map(_.steal).min > 0.5
        val compact =
          s""","concurrent":{"threads":$nThreads,"queries":${names.size},"failed":${b.fails},"wall_sec":${
            "%.3f".format(b.wall)},"serial_ref_sum":${
            "%.3f".format(refFirst.values.sum + refSteady.values.sum)},"speedup_vs_serial":${
            "%.2f".format(nThreads * (refFirst.values.sum +
              refSteady.values.sum) / b.wall)},"inflation_p50":${
            "%.2f".format(b.steady.p50)},"inflation_p95":${
            "%.2f".format(b.steady.p95)},"inflation_max":${
            "%.2f".format(b.steady.max)},"first_touch_p50":${
            "%.2f".format(b.first.p50)},"first_touch_p95":${
            "%.2f".format(b.first.p95)},"first_touch_max":${
            "%.2f".format(b.first.max)},"steal_sec":${
            "%.2f".format(b.steal)},"spill_bytes":${b.spill},"memo_gets":${
            b.gets},"memo_builds":${b.builds},"attempts":$attemptsJson,"noise_suspect":$noiseSus}"""
        // full per-query (first, steady) decomposition — BENCH_LAST
        // only (the stdout line carries the percentiles)
        val decomp = b.perQuery.toSeq.sortBy(_._1).map {
          case (n, (f, s)) =>
            s"""\"$n\":{"first":${"%.3f".format(f)},"steady":${
              "%.3f".format(s)}}"""
        }.mkString(""","concurrent_decomp":{""", ",", "}")
        // stdout variant: fixed field set, no attempts array — its
        // length is bounded regardless of how noisy the window was
        val stdoutCompact =
          s""","concurrent":{"threads":$nThreads,"queries":${names.size},"failed":${b.fails},"wall_sec":${
            "%.3f".format(b.wall)},"speedup_vs_serial":${
            "%.2f".format(nThreads * (refFirst.values.sum +
              refSteady.values.sum) / b.wall)},"inflation_p95":${
            "%.2f".format(b.steady.p95)},"first_touch_p95":${
            "%.2f".format(b.first.p95)},"steal_sec":${
            "%.2f".format(b.steal)},"attempts_n":${attempts.size},"noise_suspect":$noiseSus}"""
        (compact, decomp, stdoutCompact)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] concurrent leg failed: ${e.getMessage}")
          (""","concurrent":{"threads":-1}""", "",
            ""","concurrent":{"threads":-1}""")
      }
    }
    def fmt(v: Double): String =
      if (v < 0) "-1" else "%.3f".format(v)
    val fullQs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spillJson =
      if (spills.isEmpty) ""","spill_bytes":0"""
      else s""","spill_bytes":${spills.values.sum},"spilled_queries":${
        spills.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"\"" + k + "\":" + v }
          .mkString("{", ",", "}")}"""
    val coldQs = colds.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + "%.3f".format(v) }
      .mkString("{", ",", "}")
    val rowsQs = rows.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val roundsQs = rounds.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // only present on audit passes — absent ≡ auditing was off
    val candsJson =
      (if (cands.isEmpty) ""
      else s""","queries_candidates":${cands.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")}""") +
      (if (candsScaled.isEmpty) ""
      else s""","queries_candidates_scaled":${candsScaled.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")}""") +
      (if (stages.isEmpty) ""
      else s""","queries_stage_ms":${stages.toSeq.sortBy(_._1)
        .map { case (q, m) => s"\"" + q + "\":" + m.toSeq.sortBy(_._1)
          .map { case (k, v) => s"\"" + k + "\":" + v }
          .mkString("{", ",", "}") }
        .mkString("{", ",", "}")}""")
    // steal + outlier attribution: steal_sec carries only the queries
    // whose window saw nonzero steal; noise_suspect is the
    // [[isNoiseSuspect]] verdict — still past 3× the committed
    // reference after the extra runs, OR past 2× with >0.5 s of
    // recorded per-query steal (the round-10 miss)
    val runStealSec = HostSteal.secondsSince(runSteal0)
    val stealJson = {
      val per = steals.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + "%.2f".format(v) }
        .mkString("{", ",", "}")
      s""","steal_total_sec":${"%.2f".format(runStealSec)},"steal_sec":$per"""
    }
    // ALWAYS emitted (VERDICT r12 item 7): an empty noise_suspect list
    // is itself the signal "no query tripped the noise verdict" — its
    // absence left r12's steal-inflated driver round non-self-describing
    val noiseJson =
      s""","reruns":$rerunsTotal,"noise_suspect":${
        noiseSuspect.sorted.map("\"" + _ + "\"")
          .mkString("[", ",", "]")}"""
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":$fullQs,"queries_cold":$coldQs,"queries_rows":$rowsQs,"queries_rounds":$roundsQs$candsJson$streamReplay$concurrentJson$concurrentDecomp$spillJson$stealJson$noiseJson,"sf":"$sfDir"}"""
    // Stdout line contract (VERDICT r16 item 2): per-query entries take
    // budget PRECEDENCE over diagnostics. Every diagnostic section here
    // is hard-bounded (no attempts arrays, noise_suspect capped at a
    // fixed count), so queries fill budget − O(600) fixed chars —
    // ≥ the slowest ~150 queries even with every diagnostic maxed.
    // The full-precision map + full diagnostics mirror to
    // BENCH_LAST.json ("full" pointer below). Budget 4000: the r16
    // driver parsed a 2452-char line in full; 4000 keeps headroom
    // under any plausible capture window while fitting ~170 entries.
    val budget = 4000
    val head =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"n_queries":${results.size},"queries":{"""
    val bySlowest = results.toSeq.sortBy { case (_, v) => -v }
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    // compact steal/noise summary for the stdout line: run total +
    // the top-3 per-query steal attributions (full map in
    // BENCH_LAST.json) + the always-present noise verdict, with the
    // name list capped (r16: ~40 names ate ~1000 chars of budget)
    val stealTop =
      if (steals.isEmpty) ""
      else s""","steal_top":${steals.toSeq.sortBy(-_._2).take(3)
        .map { case (k, v) => "\"" + k + "\":" + "%.2f".format(v) }
        .mkString("{", ",", "}")}"""
    val noiseStdout =
      s""","reruns":$rerunsTotal,"noise_suspect_n":${noiseSuspect.size},"noise_suspect":${
        noiseSuspect.sorted.take(8).map("\"" + _ + "\"")
          .mkString("[", ",", "]")}"""
    val stealStdout =
      s""","steal_total_sec":${"%.2f".format(runStealSec)}""" +
        stealTop + noiseStdout
    // allow-list (sweep/dev) runs don't write BENCH_LAST.json, so their
    // output rows + round counts must ride the stdout line. Allow-list
    // runs are consumed by scripts grepping the FULL log (never the
    // driver's last-2000-chars capture — the driver always runs the
    // full suite), so the budget here is generous; the rows_omitted
    // marker stays as a tripwire and sweep scripts treat its presence
    // as a partial identity verdict (ADVICE r15 — the old 600-char cap
    // silently dropped the alphabetically-last watch-list entries and
    // let rows_identical:true cover a subset).
    val rowsStdout =
      if (only.isEmpty) "" else {
        val entries = rows.toSeq.sortBy(_._1)
          .map { case (k, v) => s"\"" + k + "\":" + v }
        val rb = new StringBuilder
        var rowsOmitted = 0
        entries.foreach { e =>
          if (rb.length + e.length + 1 <= 8000) {
            if (rb.nonEmpty) rb.append(','); rb.append(e)
          } else rowsOmitted += 1
        }
        s""","queries_rows":{$rb}""" +
          (if (rowsOmitted > 0) s""","rows_omitted":$rowsOmitted""" else "")
      }
    // round counts only exist for the iterative kernels — a handful of
    // entries, but ride the same guarantee; candidate counts only on
    // audit passes (both allow-list-scoped by construction)
    val roundsStdout =
      (if (only.isDefined && rounds.nonEmpty)
        s""","queries_rounds":$roundsQs""" else "") +
      (if (only.isDefined) candsJson else "")
    // reserve room for closing + omitted note + the bounded compact
    // diagnostics + the ,"spill_bytes":<up-to-19-digits> suffix
    var len = head.length + 100 + streamReplayStdout.length +
      concurrentStdout.length + stealStdout.length + rowsStdout.length +
      roundsStdout.length
    var omitted = 0
    bySlowest.foreach { case (k, v) =>
      val p = s"\"" + k + "\":" + fmt(v)
      if (len + p.length + 1 <= budget) { parts += p; len += p.length + 1 }
      else omitted += 1
    }
    val note =
      if (omitted > 0) s""","queries_omitted":$omitted,"full":"BENCH_LAST.json"""" else ""
    val stdoutJson = head + parts.mkString(",") + "}" + note +
      streamReplayStdout + concurrentStdout + stealStdout + rowsStdout +
      roundsStdout + s""","spill_bytes":${spills.values.sum}""" + "}"
    spark.stop()
    System.err.flush()
    println()
    println(stdoutJson)
    System.out.flush()
    // full-suite runs only: a partial SPARK_GRAFT_ONLY dev run must not
    // overwrite the committed full-suite reference (VERDICT r9 item 8 —
    // a partial overwrite also poisons the 3× outlier reference above).
    // Config guard (VERDICT r16 item 5): the driver ALSO runs the full
    // suite at a lower core count for the scaling measurement, and that
    // run used to clobber the quiet 32-core reference — a run whose
    // (cpus, sf) differ from the existing reference's goes to
    // BENCH_LAST_c<cpus>_<sf>.json instead ([[resultFile]]).
    if (only.isEmpty) try {
      val refPath = java.nio.file.Paths.get("BENCH_LAST.json")
      val ref =
        if (!java.nio.file.Files.exists(refPath)) None
        else Some(new String(java.nio.file.Files.readAllBytes(refPath),
          "UTF-8"))
      val out = resultFile(ref, cpus, sfDir)
      val w = new java.io.PrintWriter(out)
      try w.println(fullJson) finally w.close()
    } catch { case _: Throwable => }
  }

  /** File a full-suite run writes, given the existing reference's text:
    * `BENCH_LAST.json` when there is no reference or its `cpus` and `sf`
    * both equal this run's, else `BENCH_LAST_c<cpus>_<sf>.json` with
    * `<sf>` the data dir's last path element. A reference lacking
    * either field is a mismatch, so it is never overwritten blindly. */
  def resultFile(reference: Option[String], cpus: Int, sfDir: String)
      : String = {
    val matches = reference.forall { txt =>
      val refCpus = "\"cpus\":\\s*\"?([0-9]+)".r
        .findFirstMatchIn(txt).map(_.group(1).toInt)
      val refSf = "\"sf\":\"([^\"]+)\"".r
        .findFirstMatchIn(txt).map(_.group(1))
      refCpus.contains(cpus) && refSf.contains(sfDir)
    }
    if (matches) "BENCH_LAST.json"
    else s"BENCH_LAST_c${cpus}_" +
      s"${java.nio.file.Paths.get(sfDir).getFileName}.json"
  }

  /** noise_suspect verdict (VERDICT r10 item 3, tightened r11): after
    * the self-heal reruns, a query is flagged when EITHER (a) it still
    * exceeds 3× its committed reference — a regression OR saturated
    * steal; the steal fields say which — or (b) it exceeds 2× the
    * reference AND its own window recorded > 0.5 s of hypervisor steal
    * (2× is the driver's own gate ratio; the round-10 miss —
    * dd_ngram_jaccard at 2.36× with 1.2 s recorded steal — carried its
    * attribution but no flag). The absolute 0.5 s floor keeps
    * sub-second jitter out of both arms. Pure function so the spec can
    * pin the table. */
  def isNoiseSuspect(best: Double, committedRef: Option[Double],
      stealSec: Double): Boolean =
    best > 0.5 && committedRef.exists(r =>
      best > 3 * r || (best > 2 * r && stealSec > 0.5))
}
