package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One benchmark run in one JVM: `--workload --seed --seconds --trace
  * --work --refs --launch-ms --result [--trace-out]`. Writes the run's
  * measurements as JSON to `--result`; `perfbench/run.py` turns them into
  * the benchmark's output line. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    if (a.get("workload").contains("refs")) {
      // reference hashes for the stored results file
      val spark = graft.GraftSession.get(a("cpus"))
      val data = a("data")
      if (a.get("generate").contains("1")) TableGen.write(spark, data)
      println(Queries.refs(spark, data, a.get("verified")))
      spark.stop()
      return
    }
    val work = new File(a("work"))
    work.mkdirs()
    val spark = graft.GraftSession.get(a("cpus"))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val ctx = new Ctx(spark, new Trace(a("trace") == "1"), work,
      a("seed").toLong, a("seconds").toDouble, a("cpus").toInt,
      Refs.load(a("refs")), a("launch-ms").toLong)
    ctx.info("session ready")
    a("workload") match {
      case "cdc_drain" => Cdc.drain(ctx)
      case "cdc_tail" => Cdc.tail(ctx)
      case "train_build" => Queries.train(ctx)
      case "serve_mix" => Queries.serve(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.finish()
    JFiles.write(new File(a("result")).toPath,
      ctx.resultJson.getBytes(StandardCharsets.UTF_8))
    a.get("trace-out").filter(_ => ctx.trace.on).foreach { p =>
      JFiles.write(new File(p).toPath,
        ctx.traceJson(a("workload")).getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}

/** Shared state of one run: session, tracing, counters and metrics. */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: File,
    val seed: Long, val seconds: Double, val cpus: Int,
    val refs: Map[String, String], launchMs: Long) {
  @volatile var attempted = 0L
  @volatile var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private val notes = mutable.ArrayBuffer.empty[String]
  private var setupS = -1.0
  private val listener: Option[OpListener] =
    if (trace.on) Some(new OpListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  def note(msg: String): Unit = synchronized {
    notes += msg; System.err.println(s"[graftbench] $msg")
  }
  def fail(msg: String): Unit = synchronized { failed += 1; note(msg) }
  /** Progress line on stderr, stamped with seconds since launch. */
  def info(msg: String): Unit = System.err.println(
    f"[graftbench] ${(System.currentTimeMillis() - launchMs) / 1000.0}%.2f s: $msg")

  def span[T](op: String, name: String, l: String)(body: => T): T =
    trace.span(op, name, l)(body)

  /** Runs `body` with its Spark jobs tagged as operation `op`. */
  def withOp[T](op: String)(body: => T): T = {
    val sc = spark.sparkContext
    OpListener.setOp(sc, op)
    try body
    finally { OpListener.setOp(sc, null); OpListener.setPhase(sc, null) }
  }
  def phase(p: String): Unit = OpListener.setPhase(spark.sparkContext, p)

  /** The timed part of the run; set-up ends when it starts. */
  def measure(body: Long => Unit): Unit = {
    setupS = (System.currentTimeMillis() - launchMs) / 1000.0
    body(System.nanoTime() + (seconds * 1e9).toLong)
  }

  def listenerSnapshot(ops: Seq[String]): Array[Long] =
    listener.map(_.snapshot(ops)).getOrElse(new Array[Long](10))

  /** Scheduler counters summed over `ops` (less `since`, an earlier
    * snapshot); utilisation against `wallS`. */
  def listenerMetrics(ops: Seq[String], wallS: Double,
      since: Array[Long] = new Array[Long](10)): Unit =
    listener.foreach { l =>
      import OpListener._
      val now = l.snapshot(ops)
      def v(i: Int) = (now(i) - since(i)).toDouble
      layer("query.jobs") = v(Jobs)
      layer("query.eager_jobs") = v(EagerJobs)
      layer("query.tasks") = v(Tasks)
      layer("query.task_s") = v(TaskMs) / 1e3
      layer("query.cpu_s") = v(CpuNs) / 1e9
      layer("query.gc_s") = v(GcMs) / 1e3
      layer("query.shuffle_read_bytes") = v(ShuffleRead)
      layer("query.shuffle_write_bytes") = v(ShuffleWrite)
      layer("query.spill_bytes") = v(Spill)
      layer("query.sched_wait_s") = v(SchedWaitMs) / 1e3
      layer("query.core_util") = v(TaskMs) / 1e3 / (wallS * cpus)
    }

  /** Scales the totals under `prefixes` (ratios stay as they are). */
  def scaleLayer(prefixes: Seq[String], f: Double): Unit =
    layer.keys.toSeq.filter(k => prefixes.exists(k.startsWith) &&
      !Ctx.Ratios(k)).foreach(k => layer(k) = layer(k) * f)

  def finish(): Unit = {
    e2e("setup_s") = setupS
    e2e("peak_rss_mb") = Rss.peakMb()
    layer("failed_ops_frac") =
      if (attempted > 0) failed.toDouble / attempted else 1.0
  }

  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")

  def resultJson: String =
    s"""{"attempted":$attempted,"failed":$failed,"e2e":${obj(e2e)},"layer":${
      obj(layer)},"notes":${notes.map(Json.str).mkString("[", ",", "]")}}"""

  def traceJson(workload: String): String =
    s"""{"workload":${Json.str(workload)},"seed":$seed,"cpus":$cpus,"end_to_end":${
      obj(e2e)},"per_layer":${obj(layer)},"spans":${
      trace.toJson}}"""
}

object Ctx {
  val Ratios = Set("query.core_util", "query.phase_gap_max")
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

object Rss {
  /** Peak resident set (VmHWM) of this process in MB. */
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Refs {
  /** `{"queries": {"name": "rows:lo:hi", ...}}` from the stored file. */
  def load(path: String): Map[String, String] = {
    val txt = new String(JFiles.readAllBytes(new File(path).toPath),
      StandardCharsets.UTF_8)
    val body = txt.substring(txt.indexOf("\"queries\""))
    "\"([a-z0-9_]+)\"\\s*:\\s*\"(-?\\d+:-?\\d+:-?\\d+)\"".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toMap
  }
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
}
