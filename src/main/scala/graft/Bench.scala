package graft

import graft.util.{Caches, Counters, HostSteal, Json, SpillAudit}
import graft.util.Json.{fixed, obj}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.json4s._
import org.json4s.JsonDSL._

/** The query bench: every query (or the `SPARK_GRAFT_ONLY` allow-list,
  * which makes it the per-query profiler) timed on one [[GraftSession]],
  * then the stream-replay and concurrent-serving legs. Each run's wall
  * splits into build (construction, where iterative kernels run their
  * loops, plus the count wrapper's analysis), optimize, plan and act;
  * a [[Tracer]] credits the run's own jobs, stages, tasks and task
  * seconds to it. One stderr line per run, one JSON line on stdout and,
  * for full-suite runs, the full object (with `queries_trace`) in
  * [[resultFile]]. */
object Bench {

  /** Scheduler work of a run's own jobs (`buildJobs`: those started
    * while the query was being built). */
  final case class Work(jobs: Int, buildJobs: Int, stages: Int,
      tasks: Int, taskSec: Double)

  /** One timed run: wall, its four phases, host steal, analyzed/
    * optimized/physical plan sizes, rows, spill and (once
    * [[Tracer.settle]]d) its [[Work]]. */
  final case class Run(tag: Long, wall: Double, build: Double,
      optimize: Double, plan: Double, act: Double, steal: Double,
      nodes: Seq[Long], rows: Long, spill: Long,
      work: Work = Work(0, 0, 0, 0, 0.0))

  /** One query's measurements: `best` is -1 when cold or warm failed,
    * never a (misleadingly fast) partial time; `trace` is the run `best`
    * reports; rounds, candidates and stage ms come from
    * [[graft.util.Counters]]. */
  final case class QueryRecord(name: String, cold: Double, warm: Double,
      best: Double, reruns: Int, steal: Double, spill: Long,
      rows: Option[Long], rounds: Option[Int], candidates: Option[Long],
      candidatesScaled: Option[Long], stageMs: Map[String, Long],
      trace: Option[Run], noiseSuspect: Boolean)

  /** A bench run: query records in name order and the legs' full
    * objects in file order, with the legs' own steal. */
  final case class Report(sf: String, cpus: Int, queries: Seq[QueryRecord],
      legs: Seq[(String, JValue)], legSteal: Seq[(String, Double)],
      stealTotal: Double) {
    def total: Double = queries.map(_.best).filter(_ >= 0).sum
    def steals: Seq[(String, Double)] =
      (queries.map(q => q.name -> q.steal) ++ legSteal).filter(_._2 > 0)
    def noiseSuspect: Seq[String] =
      queries.filter(_.noiseSuspect).map(_.name).sorted
  }

  /** Local property that tags a timed run's jobs: `<tag> <phase>`. */
  private val RunKey = "graft.bench.run"

  /** Credits jobs, completed stages, tasks and task time to the timed
    * run whose thread started them ([[RunKey]]); other threads' jobs
    * carry no tag. Events arrive asynchronously: [[settle]] drains the
    * bus, off the clock, before it reads the counts. */
  final class Tracer(sc: SparkContext) extends SparkListener {
    private final class Counts {
      val jobs, buildJobs, stages, tasks = new AtomicInteger
      val taskMs = new AtomicLong
      def work = Work(jobs.get, buildJobs.get, stages.get, tasks.get,
        taskMs.get / 1000.0)
    }
    private val byTag = new ConcurrentHashMap[Long, Counts]
    private val byStage = new ConcurrentHashMap[Int, Counts]
    private val tags = new AtomicLong
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(RunKey)))
        .map(_.split(' ')).foreach { case Array(tag, phase) =>
          val c = byTag.computeIfAbsent(tag.toLong, _ => new Counts)
          c.jobs.incrementAndGet()
          if (phase == "build") c.buildJobs.incrementAndGet()
          e.stageIds.foreach(byStage.put(_, c))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(byStage.get(e.stageInfo.stageId))
        .foreach(_.stages.incrementAndGet())

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { c =>
        c.tasks.incrementAndGet()
        if (e.taskInfo != null) c.taskMs.addAndGet(e.taskInfo.duration)
      }

    /** Builds, optimizes, plans and counts `build`'s frame on this
      * thread, each phase timed and tagged; the wall spans the four. */
    def timed(build: => DataFrame): Either[Throwable, Run] = {
      val tag = tags.incrementAndGet()
      def phase(p: String) =
        { sc.setLocalProperty(RunKey, s"$tag $p"); System.nanoTime() }
      val steal0 = HostSteal.jiffies()
      try {
        val t0 = phase("build")
        // same plan Dataset.count() compiles, but kept as a handle: the
        // spill audit must read the QueryExecution that RAN —
        // df.count() executes a derived query and leaves df's own
        // metrics untouched (zero), which made the audit vacuous
        val counted = build.groupBy().count()
        val qe = counted.queryExecution
        val t1 = phase("optimize")
        qe.optimizedPlan
        val t2 = phase("plan")
        qe.executedPlan
        val t3 = phase("act")
        val rows = counted.collect()(0).getLong(0)
        val t4 = System.nanoTime()
        def sec(a: Long, b: Long) = (b - a) / 1e9
        // plan sizes read after execution: an adaptive plan's final one
        Right(Run(tag, sec(t0, t4), sec(t0, t1), sec(t1, t2), sec(t2, t3),
          sec(t3, t4), HostSteal.secondsSince(steal0),
          Seq(qe.analyzed, qe.optimizedPlan, qe.executedPlan).map(size),
          rows, SpillAudit.spillBytes(counted)))
      } catch { case e: Throwable => Left(e) }
      finally sc.setLocalProperty(RunKey, null)
    }

    /** `runs` with their [[Work]]; forgets every tag seen so far. */
    def settle(runs: Seq[Run]): Seq[Run] = {
      try org.apache.spark.sql.graft.ListenerBridge.drain(sc)
      catch { case e: java.util.concurrent.TimeoutException =>
        System.err.println(s"[bench] counts may be short: ${e.getMessage}") }
      val out = runs.map(r =>
        Option(byTag.get(r.tag)).fold(r)(c => r.copy(work = c.work)))
      byTag.clear()
      byStage.clear()
      out
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** Plan nodes plus the expression nodes they carry; an adaptive plan
    * counts its final plan, query stages included. */
  private def size(p: QueryPlan[_]): Long = p match {
    case a: AdaptiveSparkPlanExec => size(a.executedPlan)
    case q: QueryStageExec => size(q.plan)
    case _ =>
      var n = 1L
      p.expressions.foreach(_.foreach(_ => n += 1))
      n + p.children.map(c => size(c.asInstanceOf[QueryPlan[_]])).sum
  }

  /** Times one query: a cold and a warm run (the cold one pays one-off
    * plan + whole-stage-codegen compilation, ~0.2 s/plan, which a
    * long-lived cluster amortizes; the warm one measures steady-state
    * execution), reported as the better of the two. Then releases the
    * query's caches and reads its counters into its record. */
  def measure(spark: SparkSession, tracer: Tracer, name: String,
      build: => DataFrame, reference: Option[Double]): QueryRecord = {
    // host-steal telemetry: a CPU-steal spike on one query's two runs
    // once forged a 2.8× phantom "regression" — the steal delta over
    // the query's runs makes an outlier time arrive with its own
    // attribution
    val steal0 = HostSteal.jiffies()
    val runs = Seq.newBuilder[Run]
    def once(): Double = tracer.timed(build) match {
      case Right(r) => runs += r; r.wall
      case Left(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
    }
    val cold = once()
    val warm = once()
    var best = if (cold < 0 || warm < 0) -1.0 else math.min(cold, warm)
    // outlier self-heal: past 3× the committed reference (and past an
    // absolute floor so sub-second jitter never triggers it), retry up
    // to twice — min(cold, warm) of exactly two runs lets one steal
    // spike spanning both forge a regression
    var reruns = 0
    while (best > 0.5 && reference.exists(best > 3 * _) && reruns < 2) {
      val t = once()
      if (t >= 0 && t < best) best = t
      reruns += 1
    }
    val steal = HostSteal.secondsSince(steal0)
    val settled = tracer.settle(runs.result())
    settled.zipWithIndex.foreach { case (r, i) =>
      System.err.println(runLine(name, i + 1, r)) }
    // release this query's persisted intermediates (signature tables,
    // prefix indexes, PQ codes, localCheckpoint blocks ...) before the
    // next query runs: caches legitimately persist WITHIN a query's
    // runs, but letting ~190 queries' blocks accumulate in one session
    // drove LRU eviction + disk spill that inflated later measurements
    // 7-21× (round 5: clearCache alone left localCheckpoint RDD blocks
    // registered — see graft.util.Caches). BLOCKING: async removal
    // leaves the previous query's blocks resident while this one runs —
    // at sf10 that residue inflated fj1 2.5× (r14 sweep). A failed
    // release is reported, not fatal: the next query's numbers may then
    // carry residue, attributable from stderr, instead of aborting the
    // remaining queries
    try Caches.releaseAll(spark, blocking = true)
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] cache release after $name " +
          s"failed: ${e.getMessage}")
    }
    val ctrs = Counters.drain()
    QueryRecord(name, cold, warm, best, reruns, steal,
      // max over the runs, not sum — the metric is "bytes one execution
      // spills", parallel to min() timing
      spill = settled.map(_.spill).maxOption.getOrElse(0L),
      rows = settled.lastOption.map(_.rows),
      rounds = ctrs.collect { case (k, v) if k.startsWith("rounds.") =>
        v.toInt }.maxOption,
      candidates = ctrs.get("candidates"),
      candidatesScaled = ctrs.get("candidates_scaled_bits"),
      stageMs = ctrs.collect { case (k, v) if k.startsWith("stage_") &&
        k.endsWith("_ms") => k.stripPrefix("stage_").stripSuffix("_ms") -> v },
      trace = if (best < 0) None else settled.find(_.wall == best),
      noiseSuspect = best >= 0 && isNoiseSuspect(best, reference, steal))
  }

  private def runLine(name: String, n: Int, r: Run): String = {
    val w = r.work
    f"[bench] $name run=$n total=${r.wall}%.3f build=${r.build}%.3f " +
      f"optimize=${r.optimize}%.3f plan=${r.plan}%.3f act=${r.act}%.3f " +
      s"jobs=${w.jobs} buildJobs=${w.buildJobs} stages=${w.stages} " +
      f"tasks=${w.tasks} taskSec=${w.taskSec}%.3f steal=${r.steal}%.2f " +
      s"nodes=${r.nodes.mkString("/")} rows=${r.rows}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus
    // optional comma-separated allow-list for single-query iteration and
    // per-query profiling (dev loop only — the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val specs = only.fold(SparkEntry.specs)(SparkEntry.select).sortBy(_.name)
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
    // per-query reference, read BEFORE this run overwrites it: any
    // query whose best time lands past 3× its reference gets up to two
    // extra runs — a steal spike self-heals, a genuine regression
    // survives and is flagged
    val (file, refTimes) =
      reference(java.nio.file.Paths.get(""), cpus, sfDir)
    val runSteal0 = HostSteal.jiffies()
    Counters.drain() // clear anything the warm-up recorded
    val tracer = new Tracer(spark.sparkContext)
    val records = specs.map(s => measure(spark, tracer, s.name,
      s.build(spark, sfDir), refTimes.get(s.name).filter(_ > 0)))
    // the legs run on full-suite runs only: an allow-list is for query
    // iteration
    val (replay, replaySteal) =
      if (only.isDefined) (JNothing, 0.0) else streamReplay(spark, sfDir)
    val legs = if (only.isDefined) Nil
      else ("stream_replay" -> replay) :: concurrent(spark, sfDir, records, tracer)
    val report = Report(sfDir, cpus, records, legs,
      Seq("stream_replay" -> replaySteal), HostSteal.secondsSince(runSteal0))
    val line = stdoutLine(report, only.isDefined, file)
    tracer.close()
    spark.stop()
    System.err.flush()
    println()
    println(line)
    System.out.flush()
    // full-suite runs only: a partial SPARK_GRAFT_ONLY dev run must not
    // overwrite the committed full-suite reference (VERDICT r9 item 8 —
    // a partial overwrite also poisons the 3× outlier reference above).
    // Config guard (VERDICT r16 item 5): the driver ALSO runs the full
    // suite at a lower core count for the scaling measurement, and that
    // run used to clobber the quiet 32-core reference — a run whose
    // (cpus, sf) differ from the existing reference's goes to
    // BENCH_LAST_c<cpus>_<sf>.json instead ([[resultFile]]).
    if (only.isEmpty)
      try Json.write(file, fullJson(report))
      catch {
        case e: java.io.IOException =>
          System.err.println(s"[bench] writing $file failed: ${e.getMessage}")
      }
  }

  /** The file a full-suite run in `dir` writes ([[resultFile]], judged
    * on `dir`'s `BENCH_LAST.json`), and the per-query times of that
    * file if it exists. Times taken at another core count or scale are
    * no reference for this run, so such a run gets none: no self-heal
    * reruns and no noise_suspect verdicts. */
  def reference(dir: java.nio.file.Path, cpus: Int, sfDir: String)
      : (String, Map[String, Double]) = {
    def read(name: String) =
      try Some(java.nio.file.Files.readString(dir.resolve(name)))
      catch { case _: java.io.IOException => None }
    val file = resultFile(read("BENCH_LAST.json"), cpus, sfDir)
    (file, read(file).map(queryTimes).getOrElse(Map.empty))
  }

  /** The per-query times of a bench file's `queries` object. */
  def queryTimes(text: String): Map[String, Double] =
    parseOrNothing(text) \ "queries" match {
      case JObject(fs) => fs.collect { case (k, JDouble(v)) => k -> v }.toMap
      case _ => Map.empty
    }

  private def parseOrNothing(text: String): JValue =
    try Json.parse(text) catch { case _: Exception => JNothing }

  /** Streaming backlog-replay throughput (VERDICT r5 item 7): events/s
    * through ChangeLogSource → tx grouping → checkpointed parquet sink
    * with Trigger.AvailableNow, and the leg's steal. Generation is
    * untimed; a failure reports `events_per_sec` -1 rather than killing
    * the query bench. */
  private def streamReplay(spark: SparkSession, sfDir: String)
      : (JValue, Double) = {
    val work = "/tmp/graft_bench_replay"
    val workPath = new org.apache.hadoop.fs.Path(work)
    val fs = workPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fresh dir per run: a leftover log from a previous run at a
    // different SF would fail the (append-only) generator, and a
    // reused checkpoint would see the log committed and no-op
    try {
      fs.delete(workPath, true)
      // micro-batch latency probe FIRST, BEFORE the 10× backlog drain
      // (VERDICT r14 item 2 tail): it measures per-batch trigger
      // latency on a 1× log under capped admission — the steady-state
      // tailing shape — on a quiet JVM. Its own try: a probe failure
      // must not discard the throughput numbers measured below. The
      // regime field says what the distribution describes.
      val probe = try {
        streaming.ReplayBench.generateLog(spark, sfDir, s"$work/log1x")
        Some(streaming.ReplayBench.drain(spark, s"$work/log1x",
          s"$work/latency", cap = 4096))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] latency probe failed: ${e.getMessage}")
          None
      }
      // median of 3 drains over one generated log (VERDICT r12
      // item 1, superseding r9's best-of-2): the reported number is
      // the MEDIAN attempt, and every attempt ships its own wall and
      // steal so a steal-inflated driver round is self-describing.
      // 10× backlog (VERDICT r13 item 3): at 10× the fixed per-query
      // costs amortize to a few percent
      val backlogCopies = 10
      val rSteal0 = HostSteal.jiffies()
      val lines = streaming.ReplayBench.generateLog(
        spark, sfDir, s"$work/log", copies = backlogCopies)
      val attempts = (0 until 3).map(i =>
        streaming.ReplayBench.drain(spark, s"$work/log", s"$work/sink$i"))
      val med = attempts.sortBy(_.sec)(Ordering.Double.TotalOrdering)
        .apply((attempts.size - 1) / 2)
      val rSteal = HostSteal.secondsSince(rSteal0)
      Caches.releaseAll(spark, blocking = true)
      // events_per_sec = LOG LINES/s (incl. begin/commit markers —
      // the source-side drain rate); mutations_per_sec = sink rows/s,
      // the marker-fraction-independent number to regress on.
      (obj("events" -> lines, "backlog_copies" -> backlogCopies,
        "mutations_out" -> med.out, "sec" -> fixed(med.sec, 3),
        "events_per_sec" -> fixed(lines / med.sec, 0),
        "mutations_per_sec" -> fixed(med.out / med.sec, 0),
        "attempts" -> JArray(attempts.map(a => obj("sec" -> fixed(a.sec, 3),
          "steal_sec" -> fixed(a.stealSec, 2))).toList),
        "batches" -> probe.fold[JValue](JNothing)(_.batches.size),
        "batch_latency_ms" -> probe.fold[JValue](JNothing)(l => obj(
          "regime" -> "capped_admission_1x_backlog",
          "p50" -> fixed(l.trigger(0.5), 0), "p95" -> fixed(l.trigger(0.95), 0),
          "max" -> fixed(l.trigger(1), 0)))), rSteal)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] stream_replay failed: ${e.getMessage}")
        (obj("events_per_sec" -> -1), 0.0)
    } finally fs.delete(workPath, true)
  }

  /** Concurrent-serving leg (VERDICT r13 item 7, reworked r15 per
    * VERDICT r14 item 2): a shared 100 TB engine serves many sessions
    * at once, and AQE + broadcast + the model-state memos all interact
    * under concurrency. Four threads each run a mix through their own
    * FAIR pool (pools declared in fairscheduler.xml): the 22 TPC-H
    * analogs (scan/join/agg serving load) PLUS the memo-backed model
    * queries — Bloom semi-join, fuzzy blocking, IVF + PQ ANN, quality
    * classifier — so the memo gets/builds counters measure REAL
    * concurrent traffic (r14's mix touched no memo user; both counters
    * read 0 and the stampede claim was tested by zero traffic). The
    * memos are invalidated up-front so the leg's first touches RACE to
    * build each model — builds must not exceed distinct models
    * (computeIfAbsent blocks racing threads on one builder).
    *
    * Decomposition instead of retry-until-green (VERDICT r15 item 3):
    * each thread runs the mix TWICE — lap 0 pays the first-touch costs
    * (racing model-state memo builds + whole-stage-codegen JIT for
    * these plan shapes under concurrency), lap 1 is the steady-state
    * serving the committed ≤~2× claim is about. The two laps report
    * separate inflation percentiles, so a cold first attempt (r15
    * drivers saw 9.15 → 2.27 across retries) is EXPLAINABLE from its
    * own artifact — first_touch_p95 owns the build+JIT cost, steady_p95
    * carries the contention claim — and the retry loop keys on
    * steady_p95 only (up to two retries for a steal-noisy window, with
    * every attempt's numbers alongside and a noise_suspect verdict when
    * the final number still misses under recorded steal).
    *
    * Returns the `concurrent` object and the per-query (first, steady)
    * decomposition `concurrent_decomp`; `{"threads":-1}` alone on
    * failure. */
  private def concurrent(spark: SparkSession, sfDir: String,
      serial: Seq[QueryRecord], tracer: Tracer): List[(String, JValue)] = try {
    val nThreads = 4
    val memoBacked = Seq("j3_bloom_semi", "fj1_fuzzy_join",
      "sim_ivf_ann", "sim_pq_ann", "ql_classifier")
    val names = (SparkEntry.queries.keys
      .filter(_.matches("q\\d+_.*")).toSeq ++ memoBacked).sorted
    val served = serial.filter(q => names.contains(q.name))
    // first-touch inflation reference: TPC-H analogs compare against
    // their serial BEST; the memo-backed queries compare against their
    // serial COLD run — lap 0 starts them model-less by construction,
    // and measuring a build-paying sample against a memo-hit reference
    // would report the build as "contention"
    val refFirst = served.map(q => q.name ->
      (if (memoBacked.contains(q.name)) q.cold else q.best)).filter(_._2 > 0).toMap
    // steady-state reference: serial warm best for EVERY query — by
    // lap 1 the models are memoized and the plans JIT'd
    val refSteady = served.map(q => q.name -> q.best).filter(_._2 > 0).toMap
    case class Lap(p50: Double, p95: Double, max: Double)
    case class Attempt(wall: Double, first: Lap, steady: Lap, steal: Double,
      spill: Long, fails: Int, gets: Long, builds: Long,
      perQuery: Map[String, (Double, Double)])
    def runOnce(): Attempt = {
      Caches.invalidateAllMemos()
      val memo0 = Caches.memoStats
      val times = new ConcurrentHashMap[(Int, Int, String), Double]()
      val spillSum = new AtomicLong()
      val fails = new AtomicInteger()
      val cSteal0 = HostSteal.jiffies()
      val t0 = System.nanoTime()
      val threads = (0 until nThreads).map { ti =>
        val t = new Thread(() => {
          // thread-local job property: this thread's queries schedule in
          // their own FAIR pool
          spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", s"serve$ti")
          (0 to 1).foreach { lap =>
            names.foreach { n =>
              tracer.timed(SparkEntry.queries(n)(spark, sfDir)) match {
                case Right(r) =>
                  spillSum.addAndGet(r.spill)
                  times.put((ti, lap, n), r.wall)
                case Left(e) =>
                  fails.incrementAndGet()
                  System.err.println(s"[bench] concurrent $n (thread $ti " +
                    s"lap $lap) failed: ${e.getMessage}")
              }
            }
          }
        }, s"graft-serve-$ti")
        t.start(); t
      }
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      val cSteal = HostSteal.secondsSince(cSteal0)
      Caches.releaseAll(spark, blocking = true)
      Counters.drain()
      val memo1 = Caches.memoStats
      import scala.jdk.CollectionConverters._
      val all = times.asScala.toMap
      def lapStats(lap: Int, ref: Map[String, Double]): Lap = {
        val infl = all.toSeq.collect {
          case ((_, l, n), t) if l == lap && ref.contains(n) => t / ref(n)
        }
        if (infl.isEmpty) Lap(-1, -1, -1)
        else Lap(streaming.ReplayBench.percentile(infl, 0.50),
          streaming.ReplayBench.percentile(infl, 0.95), infl.max)
      }
      // per-query decomposition: min across threads per lap — the
      // steal-robust estimator; first − steady is that query's
      // first-touch overhead (model build + JIT) under concurrency
      val perQuery = names.flatMap { n =>
        def minOf(lap: Int): Option[Double] =
          (0 until nThreads).flatMap(ti => all.get((ti, lap, n))).minOption
        for (f <- minOf(0); s <- minOf(1)) yield n -> (f, s)
      }.toMap
      Attempt(wall, lapStats(0, refFirst), lapStats(1, refSteady),
        cSteal, spillSum.get(), fails.get(),
        memo1._1 - memo0._1, memo1._2 - memo0._2, perQuery)
    }
    // bar on STEADY-STATE p95 = the committed claim (~2×) with jitter
    // margin; the first-touch lap is reported, not gated
    val bar = 2.5
    val attempts = scala.collection.mutable.ArrayBuffer(runOnce())
    while (attempts.last.steady.p95 > bar && attempts.size < 3)
      attempts += runOnce()
    val b = attempts.minBy(_.steady.p95)
    val serialSum = refFirst.values.sum + refSteady.values.sum
    List(
      "concurrent" -> obj("threads" -> nThreads, "queries" -> names.size,
        "failed" -> b.fails, "wall_sec" -> fixed(b.wall, 3),
        "serial_ref_sum" -> fixed(serialSum, 3),
        "speedup_vs_serial" -> fixed(nThreads * serialSum / b.wall, 2),
        "inflation_p50" -> fixed(b.steady.p50, 2),
        "inflation_p95" -> fixed(b.steady.p95, 2),
        "inflation_max" -> fixed(b.steady.max, 2),
        "first_touch_p50" -> fixed(b.first.p50, 2),
        "first_touch_p95" -> fixed(b.first.p95, 2),
        "first_touch_max" -> fixed(b.first.max, 2),
        "steal_sec" -> fixed(b.steal, 2), "spill_bytes" -> b.spill,
        "memo_gets" -> b.gets, "memo_builds" -> b.builds,
        "attempts" -> JArray(attempts.map(a => obj(
          "wall_sec" -> fixed(a.wall, 3), "first_p95" -> fixed(a.first.p95, 2),
          "steady_p95" -> fixed(a.steady.p95, 2),
          "steal_sec" -> fixed(a.steal, 2))).toList),
        "noise_suspect" ->
          (b.steady.p95 > bar && attempts.map(_.steal).min > 0.5)),
      // full per-query (first, steady) decomposition — file only
      "concurrent_decomp" -> obj(b.perQuery.toSeq.sortBy(_._1).map {
        case (n, (f, s)) => n -> (obj("first" -> fixed(f, 3),
          "steady" -> fixed(s, 3)): JValue)
      }: _*))
  } catch {
    case e: Throwable =>
      System.err.println(s"[bench] concurrent leg failed: ${e.getMessage}")
      List("concurrent" -> obj("threads" -> -1))
  }

  /** A `name → value` object over the records that have a value. */
  private def byQuery(qs: Seq[QueryRecord])(f: QueryRecord => Option[JValue])
      : JObject =
    JObject(qs.flatMap(q => f(q).map(q.name -> _)).toList)

  /** `o`, or nothing (its field is left out) when it is empty. */
  private def nonEmpty(o: JObject): JValue = if (o.obj.isEmpty) JNothing else o

  /** Audit-pass counters (candidate-pair volumes and stage timings,
    * recorded only when the session runs with SPARK_GRAFT_AUDIT=true —
    * a sweep's attribution pass, never a timing pass, as the counts cost
    * extra actions): absent ≡ auditing was off. */
  private def audit(qs: Seq[QueryRecord]): Seq[(String, JValue)] = Seq(
    "queries_candidates" -> nonEmpty(byQuery(qs)(_.candidates.map(JLong(_)))),
    "queries_candidates_scaled" ->
      nonEmpty(byQuery(qs)(_.candidatesScaled.map(JLong(_)))),
    "queries_stage_ms" -> nonEmpty(byQuery(qs)(q => Option.when(
      q.stageMs.nonEmpty)(obj(q.stageMs.toSeq.sorted.map { case (k, v) =>
        k -> JLong(v) }: _*)))))

  private def rounds(qs: Seq[QueryRecord]): JObject =
    byQuery(qs)(_.rounds.map(JInt(_)))

  private def traceJson(r: Run): JValue = obj(
    "wall" -> fixed(r.wall, 3), "build" -> fixed(r.build, 3),
    "optimize" -> fixed(r.optimize, 3), "plan" -> fixed(r.plan, 3),
    "act" -> fixed(r.act, 3), "jobs" -> r.work.jobs,
    "build_jobs" -> r.work.buildJobs, "stages" -> r.work.stages,
    "tasks" -> r.work.tasks, "task_sec" -> fixed(r.work.taskSec, 3),
    "steal_sec" -> fixed(r.steal, 2),
    "nodes" -> obj("analyzed" -> r.nodes(0), "optimized" -> r.nodes(1),
      "physical" -> r.nodes(2)))

  /** The full object a full-suite run writes to [[resultFile]]. */
  def fullJson(r: Report): JObject = {
    val qs = r.queries
    obj(Seq[(String, JValue)](
      "metric" -> "total", "value" -> r.total, "unit" -> "sec",
      "cpus" -> r.cpus,
      "queries" -> byQuery(qs)(q => Some(JDouble(q.best))),
      // cold runs pay shared-index builds and codegen: a cold jump with
      // a stable warm means the query landed an index build, not a plan
      // regression
      "queries_cold" -> byQuery(qs)(q => Some(fixed(q.cold, 3))),
      // output rows: a slope is only interpretable next to the RESULT
      // growth it carries (the sf10 near-dup queries grow superlinearly
      // in wall because the ANSWER does on decade-stacked corpora)
      "queries_rows" -> byQuery(qs)(_.rows.map(JLong(_))),
      // iterative-kernel round counts: a CC closure whose round count
      // grows with the decade is a different scale story than one
      // whose rounds hold flat
      "queries_rounds" -> rounds(qs)) ++ audit(qs) ++
      Seq("queries_trace" -> byQuery(qs)(_.trace.map(traceJson))) ++ r.legs ++
      Seq[(String, JValue)](
        // spill audit (VERDICT r6 item 8): a query that silently falls
        // out of memory at bench scale is a scale bug — rounds regress
        // against zero
        "spill_bytes" -> qs.map(_.spill).sum,
        "spilled_queries" -> nonEmpty(obj(qs.filter(_.spill > 0)
          .sortBy(-_.spill).map(q => q.name -> JLong(q.spill)): _*)),
        // steal + outlier attribution: steal_sec carries only the entries
        // whose window saw nonzero steal; noise_suspect is the
        // [[isNoiseSuspect]] verdict, ALWAYS written (VERDICT r12 item
        // 7): an empty list is itself the signal that no query tripped it
        "steal_total_sec" -> fixed(r.stealTotal, 2),
        "steal_sec" -> obj(r.steals.sortBy(_._1)
          .map { case (k, v) => k -> fixed(v, 2) }: _*),
        "reruns" -> qs.map(_.reruns).sum,
        "noise_suspect" -> r.noiseSuspect.toList, "sf" -> r.sf): _*)
  }

  /** Characters the stdout line may take (the driver reads a bounded
    * capture; r16 parsed a 2452-char line in full, 4000 keeps headroom
    * while fitting ~170 entries). */
  val StdoutBudget = 4000

  /** The fields of a leg's full object that ride the stdout line, plus
    * `attempts_n` when it has an `attempts` array: no attempts arrays
    * or latency histogram (VERDICT r16 item 2: in noisy
    * windows those grew unbounded and evicted every per-query entry). */
  private val StdoutLegKeys = Map(
    "stream_replay" -> Seq("events", "sec", "events_per_sec",
      "mutations_per_sec"),
    "concurrent" -> Seq("threads", "queries", "failed", "wall_sec",
      "speedup_vs_serial", "inflation_p95", "first_touch_p95", "steal_sec",
      "noise_suspect"))

  private def project(full: JValue, keys: Seq[String]): JValue = {
    val fs = full match { case JObject(f) => f; case _ => Nil }
    JObject(keys.flatMap(k => fs.find(_._1 == k)).toList ++
      fs.collectFirst { case ("attempts", JArray(a)) => "attempts_n" -> JInt(a.size) })
  }

  /** The longest prefix of `entries` whose `"k":v,` renderings fit in
    * `budget` characters, and how many entries it leaves out. */
  private def fit(entries: Seq[(String, JValue)], budget: Int)
      : (List[(String, JValue)], Int) = {
    val ends = entries.map { case (k, v) =>
      Json.render(JString(k)).length + Json.render(v).length + 2
    }.scanLeft(0)(_ + _).tail
    val n = ends.takeWhile(_ <= budget).size
    (entries.take(n).toList, entries.size - n)
  }

  /** The stdout line (its contract, VERDICT r16 item 2): per-query
    * entries first and slowest first, taking budget PRECEDENCE over the
    * diagnostics, which are all bounded (leg projections, top-3 steal,
    * noise_suspect capped at 8 names). Entries that do not fit are
    * counted in `queries_omitted`, with `full` naming the file that has
    * them all. Allow-list runs write no file, so their rows, round
    * counts and audit counters ride the line instead. */
  def stdoutLine(r: Report, allowList: Boolean, fullFile: String): String = {
    val qs = r.queries
    def fmt(v: Double): JValue = if (v < 0) JInt(-1) else fixed(v, 3)
    def count(n: Int): JValue = if (n == 0) JNothing else JInt(n)
    // allow-list runs are read from the FULL log by sweep scripts (the
    // driver always runs the full suite), so their rows get a generous
    // budget; rows_omitted stays as a tripwire — sweep scripts treat
    // its presence as a partial identity verdict (ADVICE r15)
    val perQuery: Seq[(String, JValue)] = if (!allowList) Nil else {
      val (rows, omitted) =
        fit(qs.flatMap(q => q.rows.map(q.name -> JLong(_))), 8000)
      Seq("queries_rows" -> JObject(rows), "rows_omitted" -> count(omitted),
        "queries_rounds" -> nonEmpty(rounds(qs))) ++ audit(qs)
    }
    val noise = r.noiseSuspect
    def line(entries: List[(String, JValue)], omitted: Int) =
      Json.render(obj(Seq[(String, JValue)]("metric" -> "total",
        "value" -> fmt(r.total), "unit" -> "sec", "sf" -> r.sf,
        "cpus" -> r.cpus, "n_queries" -> qs.size,
        "queries" -> JObject(entries), "queries_omitted" -> count(omitted),
        "full" -> (if (omitted == 0) JNothing else JString(fullFile))) ++
        r.legs.collect { case (k, v) if StdoutLegKeys.contains(k) =>
          k -> project(v, StdoutLegKeys(k)) } ++
        Seq[(String, JValue)]("steal_total_sec" -> fixed(r.stealTotal, 2),
          "steal_top" -> nonEmpty(obj(r.steals.sortBy(-_._2).take(3)
            .map { case (k, v) => k -> fixed(v, 2) }: _*)),
          "reruns" -> qs.map(_.reruns).sum, "noise_suspect_n" -> noise.size,
          "noise_suspect" -> noise.take(8).toList) ++
        perQuery ++ Seq("spill_bytes" -> JLong(qs.map(_.spill).sum)): _*))
    val (kept, omitted) = fit(qs.sortBy(-_.best).map(q => q.name -> fmt(q.best)),
      StdoutBudget - line(Nil, qs.size).length)
    line(kept, omitted)
  }

  /** File a full-suite run writes, given the existing reference's text:
    * `BENCH_LAST.json` when there is no reference or its `cpus` and `sf`
    * both equal this run's, else `BENCH_LAST_c<cpus>_<sf>.json` with
    * `<sf>` the data dir's last path element. A reference lacking
    * either field (or not parsing) is a mismatch, so it is never
    * overwritten blindly. */
  def resultFile(reference: Option[String], cpus: Int, sfDir: String)
      : String = {
    val matches = reference.forall { txt =>
      val ref = parseOrNothing(txt)
      ref \ "cpus" == JInt(cpus) && ref \ "sf" == JString(sfDir)
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
