package graftbench

import java.io.{BufferedOutputStream, File, FileOutputStream}

import graft.avro.SchemaRegistry
import graft.streaming.{CdcStream, PipeAssembly}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The two CDC workloads: `cdc_drain` (a rotated-segment backlog drained
  * with Trigger.AvailableNow through the Kafka producer path, its format
  * rerouted to parquet, then resumed from its checkpoint over small
  * increments) and `cdc_tail` (an open-loop generator appending at a fixed
  * rate while the low-latency pipe follows the log). */
object Cdc {
  val DrainLines = 1000000L
  val DrainWarmups = 2
  val Segments = 8
  /** Increments after the backlog; each is rotated into the log and read
    * by the drained pipe, restarted from its checkpoint. */
  val Resumes = 2
  val ResumeLines = 10000L
  /** Lines/s; at 3,000 full 2,048-line batches (~650 ms on 4 cores) left
    * no headroom and the backlog grew. */
  val TailRate = 2000.0
  val TailWarmLines = 4096L
  val TailSettleMaxSeconds = 15.0
  val TopicTemplate = "changelog_${conn}_generic"

  private def lineOf(offsetJson: String): Long =
    """"line":(\d+)""".r.findFirstMatchIn(offsetJson).map(_.group(1).toLong)
      .getOrElse(-1L)

  private def endEpochMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L).longValue()

  /** Per-batch and state-store metrics over `ps` (progress of batches
    * that read input): medians of the per-batch durations, state sizes
    * from the last batch. */
  def batchMetrics(ctx: Ctx, ps: Seq[StreamingQueryProgress]): Unit = {
    val data = ps.filter(_.numInputRows > 0)
    def dur(k: String) = Stats.median(data.map(p =>
      p.durationMs.getOrDefault(k, 0L).doubleValue()))
    def stateSum(p: StreamingQueryProgress, f: org.apache.spark.sql.streaming
        .StateOperatorProgress => Long) = p.stateOperators.map(f).sum.toDouble
    def custom(k: String)(so: org.apache.spark.sql.streaming.StateOperatorProgress) =
      Option(so.customMetrics.get(k)).map(_.longValue()).getOrElse(0L)
    ctx.layer("batch.count") = data.size
    ctx.layer("batch.trigger_ms_p50") = dur("triggerExecution")
    ctx.layer("batch.add_batch_ms_p50") = dur("addBatch")
    ctx.layer("batch.latest_offset_ms_p50") = dur("latestOffset")
    ctx.layer("batch.query_planning_ms_p50") = dur("queryPlanning")
    ctx.layer("batch.wal_commit_ms_p50") = dur("walCommit")
    ctx.layer("batch.commit_offsets_ms_p50") = dur("commitOffsets")
    ctx.layer("state.commit_ms") =
      Stats.median(data.map(stateSum(_, _.commitTimeMs)))
    ctx.layer("state.rocksdb_file_sync_ms") = Stats.median(data.map(
      stateSum(_, custom("rocksdbCommitFileSyncLatencyMs"))))
    ctx.layer("state.rocksdb_load_ms") = Stats.median(data.map(
      stateSum(_, custom("rocksdbLoadLatencyMs"))))
    data.lastOption.foreach { p =>
      ctx.layer("state.rows_total") = stateSum(p, _.numRowsTotal)
      ctx.layer("state.memory_bytes") = stateSum(p, _.memoryUsedBytes)
      ctx.layer("state.sst_bytes") = stateSum(p, custom("rocksdbSstFileSize"))
    }
  }

  // ── cdc_drain ─────────────────────────────────────────────────────────

  private def drainConf(log: File, dir: File): Map[String, String] = Map(
    "source.path" -> log.getPath,
    "sink.checkpoint" -> new File(dir, "ckpt").getPath,
    "sink.topicTemplate" -> TopicTemplate)

  /** One drain through the producer path; returns (wall s, progress). */
  private def drainOnce(ctx: Ctx, log: File, dir: File, op: String)
      : (Double, Seq[StreamingQueryProgress]) = {
    val sink = new File(dir, "sink").getPath
    ctx.withOp(op) {
      val t0 = System.nanoTime()
      val w = ctx.span(op, "construct", "streaming") {
        ctx.phase("construct")
        PipeAssembly.kafkaWriter(ctx.spark, drainConf(log, dir),
          new SchemaRegistry, availableNow = true)
          .format("parquet").option("path", sink)
      }
      // the query thread inherits the phase it starts under
      ctx.phase("execute")
      val q = w.start()
      ctx.span(op, "drain", "spark") { q.awaitTermination() }
      ((System.nanoTime() - t0) / 1e9, q.recentProgress.toSeq)
    }
  }

  /** A drain through a noop sink of one prefix of the pipe. */
  private def legOnce(ctx: Ctx, log: File, dir: File, op: String,
      layer: String, build: Map[String, String] => org.apache.spark.sql
        .DataFrame): Double = ctx.withOp(op) {
    val conf = drainConf(log, dir)
    val t0 = System.nanoTime()
    val q = ctx.span(op, "construct", layer) {
      build(conf).writeStream.format("noop")
        .option("checkpointLocation", conf("sink.checkpoint"))
        .trigger(Trigger.AvailableNow()).start()
    }
    ctx.span(op, "drain", "spark") { q.awaitTermination() }
    (System.nanoTime() - t0) / 1e9
  }

  /** Checks a drain's sink: rows per (topic, MAGIC, mtype) equal `want`,
    * committed mutations per (connection, op). Returns the rows. */
  private def checkDrain(ctx: Ctx, dir: File, want: Array[Array[Long]])
      : (Boolean, Long) = {
    val got = ctx.spark.read.parquet(new File(dir, "sink").getPath)
      .groupBy(col("topic"), hex(substring(col("value"), 1, 2)).as("hdr"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = (for {
      c <- want.indices
      op <- 0 until 3
      n = want(c)(op) if n > 0
    } yield (s"changelog_${c}_generic", f"00${CdcGen.Mtype(op)}%02X") -> n)
      .toMap
    (got == expected, got.values.sum)
  }

  def drain(ctx: Ctx): Unit = {
    val root = new File(ctx.work, "drain")
    val log = new File(root, "log")
    val g = CdcGen.writeBacklog(ctx.seed, log, DrainLines, Segments)
    val lines = g.linesWritten.toDouble
    // the increments continue the same traffic; they wait outside the log
    // until a resume rotates them in
    val incs = (0 until Resumes).map { i =>
      val f = new File(root, s"inc/seg-${Segments + i}.log")
      CdcGen.writeSegment(g, f, g.linesWritten + ResumeLines, closeAll = true)
      f
    }
    ctx.info("logs written")
    var n = 0
    def fresh(): File = { n += 1; new File(root, s"run$n") }
    var out = 0L
    /** Drain the backlog into a fresh sink, then resume the same pipe over
      * each increment, and check the sink. Returns the drain's wall and
      * progress, and the resumes' walls. */
    def round(tag: String): (Double, Seq[StreamingQueryProgress], Seq[Double]) = {
      val d = fresh()
      val (wall, ps) = drainOnce(ctx, log, d, s"$tag$n")
      val resumes = incs.zipWithIndex.map { case (f, i) =>
        java.nio.file.Files.copy(f.toPath, new File(log, f.getName).toPath)
        drainOnce(ctx, log, d, s"resume$n-$i")._1
      }
      incs.foreach(f => new File(log, f.getName).delete())
      ctx.attempted += 1
      val (ok, rows) = checkDrain(ctx, d, g.fold.perTopicOp)
      if (!ok) ctx.fail(s"drain $n and its resumes: output differs from the fold")
      out = rows
      Files.rm(d)
      (wall, ps, resumes)
    }
    // warm-up: two untimed rounds; JIT, code generation and heap growth
    // settle here (a 100 k-line warm-up left the first timed drains ~15%
    // slower than the third)
    (0 until DrainWarmups).foreach(_ => round("warm"))
    ctx.info("warm-up done")
    val walls = mutable.ArrayBuffer.empty[Double]
    val resumeWalls = mutable.ArrayBuffer.empty[Double]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val legs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val drains = mutable.ArrayBuffer.empty[String]
    ctx.measure { deadline =>
      while (walls.isEmpty || System.nanoTime() < deadline) {
        if (ctx.trace.on) {
          def leg(name: String, layer: String)(
              b: Map[String, String] => org.apache.spark.sql.DataFrame) = {
            val d = fresh()
            legs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
              legOnce(ctx, log, d, s"$name$n", layer, b)
            Files.rm(d)
          }
          leg("events", "sources")(c => PipeAssembly.events(ctx.spark, c).toDF())
          leg("mutations", "streaming")(c =>
            PipeAssembly.mutations(ctx.spark, c).toDF())
          leg("frame", "avro")(c => CdcStream.kafkaFrame(
            PipeAssembly.mutations(ctx.spark, c), new SchemaRegistry,
            TopicTemplate))
        }
        val (wall, ps, resumes) = round("drain")
        drains += s"drain${n}"
        ctx.info(f"drain $wall%.3f s, resumes ${resumes.mkString(" ")} checked")
        walls += wall
        resumeWalls ++= resumes
        progress ++= ps
      }
    }
    ctx.e2e("throughput_per_s") = lines / Stats.median(walls.toSeq)
    ctx.e2e("latency_ms") = Stats.median(resumeWalls.toSeq) * 1000
    if (ctx.trace.on) {
      def med(k: String) = Stats.median(legs(k).toSeq)
      ctx.layer("sources.read_s") = med("events")
      ctx.layer("streaming.txgroup_s") = med("mutations") - med("events")
      ctx.layer("avro.frame_s") = med("frame") - med("mutations")
      ctx.layer("streaming.sink_s") = Stats.median(walls.toSeq) - med("frame")
      // scheduler counters per full drain
      ctx.listenerMetrics(drains.toSeq, walls.sum)
      ctx.scaleLayer(Seq("query."), 1.0 / walls.size)
      batchMetrics(ctx, progress.toSeq)
      // per round: the backlog and its increments
      val linesIn = g.linesWritten.toDouble
      ctx.layer("streaming.lines_in") = linesIn
      ctx.layer("streaming.mutations_out") = out
      ctx.layer("streaming.rollback_discards") = g.fold.committedMutations +
        g.fold.rolledBackMutations - out
      ctx.layer("streaming.out_per_in") = out / linesIn
    }
  }

  // ── cdc_tail ──────────────────────────────────────────────────────────

  private final class Progress extends StreamingQueryListener {
    val all = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      all.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Open-loop appender: line i is due at start + i / rate; every COMMIT
    * carries its due time (epoch µs) as its timestamp. */
  private final class Appender(g: CdcGen, file: File, rate: Double)
      extends Thread("graftbench-appender") {
    @volatile var halt = false
    @volatile var lateMsMax = 0.0
    @volatile var measureFromNs = Long.MaxValue
    val startNs: Long = System.nanoTime()
    val startEpochUs: Long = System.currentTimeMillis() * 1000L
    /** (commit line, due epoch µs) of every COMMIT written */
    val commits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    setDaemon(true)
    def dueUs(line: Long): Long = (line * 1e6 / rate).toLong
    override def run(): Unit = {
      val out = new BufferedOutputStream(new FileOutputStream(file, true), 1 << 16)
      try {
        while (!halt) {
          val now = System.nanoTime()
          val due = ((now - startNs) / 1e9 * rate).toLong
          while (g.linesWritten < due) {
            val line = g.linesWritten
            if (g.next(out, startEpochUs + dueUs(line)))
              commits.add((line, startEpochUs + dueUs(line)))
            if (now >= measureFromNs)
              lateMsMax = math.max(lateMsMax,
                (now - startNs) / 1e6 - dueUs(line) / 1e3)
          }
          out.flush()
          Thread.sleep(2)
        }
      } finally out.close()
    }
  }

  private def tailConf(log: File, dir: File): Map[String, String] = Map(
    "source.path" -> log.getPath, "profile" -> "low-latency",
    "sink.format" -> "parquet",
    "sink.path" -> new File(dir, "sink").getPath,
    "sink.checkpoint" -> new File(dir, "ckpt").getPath)

  def tail(ctx: Ctx): Unit = {
    val root = new File(ctx.work, "tail")
    // warm-up: the same low-latency pipe drains a short closed log, so
    // JIT and code generation are done before the followed pipe starts
    val warm = new File(root, "warm")
    CdcGen.writeBacklog(ctx.seed + 1, new File(warm, "log"), TailWarmLines, 1)
    PipeAssembly.start(ctx.spark, tailConf(new File(warm, "log"), warm),
      availableNow = true).awaitTermination()
    Files.rm(warm)
    ctx.info("warm-up done")
    val logDir = new File(root, "log"); logDir.mkdirs()
    val seg = new File(logDir, "seg-0.log"); seg.createNewFile()
    val g = new CdcGen(ctx.seed)
    val listener = new Progress
    ctx.spark.streams.addListener(listener)
    val op = "tail"
    val (q, app) = ctx.withOp(op) {
      // builds and starts in one call; the query thread inherits the phase
      ctx.phase("execute")
      val q: StreamingQuery = ctx.span(op, "construct", "streaming") {
        PipeAssembly.start(ctx.spark, tailConf(logDir, root))
      }
      val app = new Appender(g, seg, TailRate)
      app.start()
      (q, app)
    }
    // settle: the window opens once the pipe has caught up with the
    // appender (its last batch ended within half a second of the log end)
    val settleEnd = System.nanoTime() + (TailSettleMaxSeconds * 1e9).toLong
    def caughtUp = listener.all.asScala.lastOption.exists(p =>
      p.numInputRows > 0 &&
        lineOf(p.sources(0).endOffset) >= g.linesWritten - TailRate / 2)
    while (!caughtUp && System.nanoTime() < settleEnd) Thread.sleep(100)
    ctx.info(s"settled, caught up: $caughtUp")
    var m0 = 0L; var m1 = 0L
    var linesAtEnd = 0L
    var sched0 = Array.empty[Long]
    ctx.measure { deadline =>
      m0 = System.currentTimeMillis()
      sched0 = ctx.listenerSnapshot(Seq(op))
      app.measureFromNs = System.nanoTime()
      ctx.span(op, "follow", "spark") {
        Thread.sleep(math.max(0L, (deadline - System.nanoTime()) / 1000000L))
      }
      m1 = System.currentTimeMillis()
      linesAtEnd = g.linesWritten
      ctx.listenerMetrics(Seq(op), (m1 - m0) / 1000.0, sched0)
    }
    app.halt = true
    app.join()
    ctx.span(op, "catch-up", "spark") { q.processAllAvailable() }
    q.stop()
    ctx.spark.streams.removeListener(listener)
    val ps = listener.all.asScala.toSeq.filter(_.numInputRows > 0)
      .sortBy(_.batchId)
    // batch containing each COMMIT line → when its rows became readable
    val ends = ps.map(p => (lineOf(p.sources(0).endOffset), endEpochMs(p)))
      .toArray
    def visibleMs(line: Long): Long = {
      var lo = 0; var hi = ends.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ends(mid)._1 <= line) lo = mid + 1 else hi = mid
      }
      ends(lo)._2
    }
    val inWindow = app.commits.asScala.toSeq
      .filter { case (_, due) => due >= m0 * 1000L && due < m1 * 1000L }
    val lat = inWindow.map { case (line, due) => visibleMs(line) - due / 1000.0 }
    val windowed = ps.filter { p => val e = endEpochMs(p); e >= m0 && e < m1 }
    val visibleLines = windowed.map(_.numInputRows).sum.toDouble
    val processedAtEnd = ends.filter(_._2 < m1).lastOption.map(_._1).getOrElse(0L)
    ctx.e2e("throughput_per_s") = visibleLines / ((m1 - m0) / 1000.0)
    ctx.e2e("latency_ms") = Stats.median(lat)
    ctx.e2e("latency_p90_ms") = Stats.quantile(lat, 0.9)
    val (attempted, failed, out) = checkTail(ctx, new File(root, "sink"), g)
    ctx.attempted += attempted
    ctx.failed += failed
    if (failed > 0) ctx.note(s"tail: $failed of $attempted transactions wrong")
    if (ctx.trace.on) {
      batchMetrics(ctx, windowed)
      val linesIn = g.linesWritten.toDouble
      ctx.layer("streaming.lines_in") = linesIn
      ctx.layer("streaming.mutations_out") = out
      ctx.layer("streaming.rollback_discards") = g.fold.committedMutations +
        g.fold.rolledBackMutations - out
      ctx.layer("streaming.out_per_in") = out / linesIn
      ctx.layer("tail.gen_late_ms_max") = app.lateMsMax
      ctx.layer("tail.backlog_lines_end") = linesAtEnd - processedAtEnd
    }
  }

  /** Tail output check: every committed transaction has exactly its
    * mutations, no rolled-back transaction appears, and the latest image
    * per pk equals the fold. Returns (attempted, failed, rows). */
  private def checkTail(ctx: Ctx, sink: File, g: CdcGen): (Long, Long, Long) = {
    val df = ctx.spark.read.parquet(sink.getPath)
    val perTx = df.groupBy("txid").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val latest = df.groupBy("pk").agg(max_by(
      struct(col("op"), col("payload").getItem("value")), col("seq")))
      .collect().map(r => r.getString(0) ->
        (r.getStruct(1).getString(0), r.getStruct(1).getString(1))).toMap
    val want = g.fold.txMutations
    val stray = perTx.keys.filterNot(want.contains)
    val rolledBackSeen = stray.count(g.fold.rolledBack)
    if (rolledBackSeen > 0)
      ctx.note(s"tail: $rolledBackSeen rolled-back transactions in the sink")
    val badTx = want.count { case (id, n) => !perTx.get(id).contains(n.toLong) } +
      stray.size
    val badPk = g.fold.latest.asScala.count { case (pk, (_, op, v)) =>
      !latest.get(pk).contains((CdcGen.OpNames(op), v)) } +
      latest.keys.count(pk => !g.fold.latest.containsKey(pk))
    (want.size.toLong, math.min(want.size.toLong, (badTx + badPk).toLong),
      perTx.values.sum)
  }
}
