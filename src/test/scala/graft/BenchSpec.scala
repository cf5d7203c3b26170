package graft

import graft.util.Json
import java.util.concurrent.CountDownLatch
import org.json4s._

/** Bench's artifacts and per-run trace: the stdout line's budget and
  * order, the full object's key set against the committed reference,
  * and the listener's crediting of jobs to the run that started them. */
class BenchSpec extends SparkSpec {

  private lazy val committed =
    Json.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get("BENCH_LAST.json")))

  private def keys(v: JValue): Set[String] = v match {
    case JObject(fs) => fs.map(_._1).toSet
    case _ => Set.empty
  }

  private val run = Bench.Run(tag = 1, wall = 0.5, build = 0.2,
    optimize = 0.05, plan = 0.05, act = 0.2, steal = 0.0,
    nodes = Seq(10, 8, 12), rows = 3, spill = 0,
    work = Bench.Work(2, 1, 3, 9, 1.5))

  /** One record per query of the committed reference, at its time. */
  private def report: Bench.Report = {
    val JObject(times) = committed \ "queries"
    val records = times.collect { case (name, JDouble(t)) =>
      Bench.QueryRecord(name, cold = t * 2, warm = t, best = t, reruns = 0,
        steal = 0.0, spill = 0, rows = Some(7), rounds = None,
        candidates = None, candidatesScaled = None, stageMs = Map.empty,
        trace = Some(run.copy(wall = t)), noiseSuspect = false)
    }
    Bench.Report("/data/sf0.1", 4, records,
      Seq("stream_replay", "concurrent", "concurrent_decomp")
        .map(k => k -> committed \ k),
      Seq("stream_replay" -> 0.2), stealTotal = 0.3)
  }

  test("stdout line: per-query entries first, slowest first, within " +
    "the budget, the rest counted and pointed to") {
    val r = report
    val line = Bench.stdoutLine(r, allowList = false, "BENCH_LAST.json")
    assert(line.length <= Bench.StdoutBudget)
    val parsed = Json.parse(line)
    val JObject(entries) = parsed \ "queries"
    val times = entries.collect { case (_, JDouble(v)) => v }
    assert(times.nonEmpty && times === times.sortBy(-_), "slowest first")
    val slowest = r.queries.sortBy(-_.best).take(entries.size).map(_.name)
    assert(entries.map(_._1) === slowest)
    assert(parsed \ "queries_omitted" === JInt(r.queries.size - entries.size))
    assert(parsed \ "full" === JString("BENCH_LAST.json"))
    val at = (k: String) => line.indexOf(s""""$k":""")
    Seq("stream_replay", "concurrent", "steal_total_sec", "spill_bytes")
      .foreach(k => assert(at("queries") < at(k), s"queries after $k"))
    // the legs ride as key projections of their full objects
    assert(keys(parsed \ "stream_replay") === Set("events", "sec",
      "events_per_sec", "mutations_per_sec", "attempts_n"))
    assert(keys(parsed \ "concurrent") === Set("threads", "queries",
      "failed", "wall_sec", "speedup_vs_serial", "inflation_p95",
      "first_touch_p95", "steal_sec", "attempts_n", "noise_suspect"))
    assert(parsed \ "concurrent" \ "attempts_n" ===
      JInt((committed \ "concurrent" \ "attempts").children.size))

    val few = Bench.stdoutLine(r.copy(queries = r.queries.take(5)),
      allowList = false, "BENCH_LAST.json")
    val fewParsed = Json.parse(few)
    assert(keys(fewParsed \ "queries").size === 5)
    assert(fewParsed \ "queries_omitted" === JNothing)
    assert(fewParsed \ "full" === JNothing)
  }

  test("full object: every top-level key of the committed reference, " +
    "plus queries_trace") {
    val full = Bench.fullJson(report)
    val missing = keys(committed) + "queries_trace" -- keys(full)
    assert(missing.isEmpty, s"missing $missing")
    assert(keys(full \ "stream_replay") === keys(committed \ "stream_replay"))
    val trace = full \ "queries_trace" \ "q1_pricing_summary"
    assert(trace \ "build_jobs" === JInt(1))
    assert(keys(trace \ "nodes") === Set("analyzed", "optimized", "physical"))
    assert(Bench.queryTimes(Json.render(full)) ===
      report.queries.map(q => q.name -> q.best).toMap)
  }

  test("reference: times come only from the file this run writes, so a " +
    "reference of another core count or scale triggers no reruns") {
    val dir = tempDir("benchref")
    def put(file: String, cpus: Int) =
      java.nio.file.Files.writeString(dir.resolve(file), Json.render(
        Json.obj("cpus" -> JInt(cpus), "sf" -> JString("/data/sf0.1"),
          "queries" -> Json.obj("slow" -> JDouble(0.1)))))
    put("BENCH_LAST.json", 32)
    val (file, none) = Bench.reference(dir, 4, "/data/sf0.1")
    assert(file === "BENCH_LAST_c4_sf0.1.json")
    assert(none.isEmpty, "a 32-core reference is no reference at 4 cores")
    put(file, 4)
    val (same, times) = Bench.reference(dir, 4, "/data/sf0.1")
    assert(same === file && times === Map("slow" -> 0.1))
    assert(Bench.reference(dir, 32, "/data/sf0.1") ===
      (("BENCH_LAST.json", Map("slow" -> 0.1))))

    val tracer = new Bench.Tracer(spark.sparkContext)
    try {
      def slow = { Thread.sleep(600); spark.range(1).toDF() }
      val unjudged = Bench.measure(spark, tracer, "slow", slow,
        none.get("slow"))
      assert(unjudged.reruns === 0 && !unjudged.noiseSuspect)
      val judged = Bench.measure(spark, tracer, "slow", slow,
        times.get("slow"))
      assert(judged.reruns === 2 && judged.noiseSuspect)
    } finally tracer.close()
  }

  test("trace: jobs run during construction count as build jobs, and " +
    "the phases make up the wall") {
    val tracer = new Bench.Tracer(spark.sparkContext)
    try {
      val eager = tracer.timed {
        spark.range(100).count()
        spark.range(10).toDF()
      }
      val lazyRun = tracer.timed(spark.range(10).toDF())
      val Seq(e, l) = tracer.settle(Seq(eager, lazyRun).map(_.toOption.get))
      assert(e.work.buildJobs >= 1)
      assert(e.work.jobs > e.work.buildJobs)
      assert(l.work.buildJobs === 0)
      assert(l.work.jobs >= 1 && l.work.tasks >= 1 && l.work.stages >= 1)
      assert((e.rows, l.rows) === ((10L, 10L)))
      for (r <- Seq(e, l))
        assert(math.abs(r.build + r.optimize + r.plan + r.act - r.wall) < 1e-6)
      assert(tracer.timed(spark.range(1).toDF().selectExpr("no_such_col"))
        .isLeft)
    } finally tracer.close()
  }

  test("trace: jobs of another, untagged thread are not credited") {
    val tracer = new Bench.Tracer(spark.sparkContext)
    try {
      val go = new CountDownLatch(1)
      // created before the run tags its thread
      val other = new Thread(() => {
        go.await()
        (1 to 3).foreach(_ => spark.range(1000).count())
      })
      other.start()
      val busy = tracer.timed {
        go.countDown()
        other.join()
        spark.range(10).toDF()
      }
      val quiet = tracer.timed(spark.range(10).toDF())
      val Seq(b, q) = tracer.settle(Seq(busy, quiet).map(_.toOption.get))
      assert(b.work.buildJobs === 0)
      assert(b.work.jobs === q.work.jobs)
      assert(b.work.tasks === q.work.tasks)
    } finally tracer.close()
  }
}
