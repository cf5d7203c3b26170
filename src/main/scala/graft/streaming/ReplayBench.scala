package graft.streaming

import graft.Tables
import graft.sources.{ChangeLogOffset, ChangeLogSource}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one CDC drain every measurement tool runs (`Bench`'s
  * `stream_replay` leg, [[graft.Soak]], [[graft.LatencyFrontier]]):
  * the REAL pipe — [[ChangeLogSource]] DSv2 scan (rotated segments,
  * sparse index, [[TxPipeline]] tx grouping in the reader: BEGIN/COMMIT
  * buffering, commit-ts rewrite) → checkpointed parquet sink — over
  * a multi-segment log generated from the events table, with
  * `Trigger.AvailableNow` (the catch-up-then-stop shape of a consumer
  * draining a binlog backlog). [[drain]] returns wall seconds, sink
  * rows, host steal and one [[Batch]] per micro-batch that read log
  * lines; each tool digests those batches (events/s, trigger-latency
  * percentiles) with [[percentile]].
  *
  * The log generator wraps each run of `txSize` consecutive events per
  * connection in BEGIN/COMMIT markers, so the replay exercises the
  * state machine on every line, and writes `segments` range-partitioned
  * files in global seq order — rotated-segment catch-up reads them with
  * one input partition per segment (parallel backlog, serial tail).
  */
object ReplayBench {

  /** Render the events table as a multi-segment change log. Returns the
    * total line count (mutations + begin/commit markers).
    *
    * `copies > 1` replays the event stream that many times with
    * per-copy mseq offsets aligned to tx boundaries — the [[Soak]]
    * device for a backlog several times the corpus (seqs stay strictly
    * monotone per conn, tx windows never straddle copies). */
  def generateLog(spark: SparkSession, sfDir: String, logDir: String,
      connections: Int = 32, txSize: Int = 5, segments: Int = 8,
      copies: Int = 1): Long = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("ts_us"), col("value"))
      .withColumn("conn", pmod(col("user_id"), lit(connections)))
    val w = Window.partitionBy("conn").orderBy("ts_us", "event_id")
    val seqd0 = ev.withColumn("mseq", row_number().over(w).cast("long"))
    val seqd =
      if (copies <= 1) seqd0
      else {
        val maxM = seqd0.agg(max("mseq")).collect()(0).getLong(0)
        // offset multiple of txSize: (mseq-1)/txSize windows never mix
        val span = ((maxM / txSize) + 1) * txSize
        (0 until copies).map(c => seqd0.withColumn("mseq",
            col("mseq") + lit(c * span)))
          .reduce(_ unionByName _)
      }
    // line seq per conn: mutations at mseq·10, BEGIN at lo·10−2 and
    // COMMIT at hi·10+2 — strictly between the neighbouring txs'
    // markers (a tx's COMMIT at hi·10+2 precedes the next BEGIN at
    // hi·10+8). An earlier ±5 scheme made COMMIT(tx N) collide with
    // BEGIN(tx N+1); tie-order is undefined after a shuffle, and a
    // BEGIN sorting first reset-discarded the open buffer — exactly
    // the ambiguity a real binlog cannot contain (positions are
    // strictly monotone), so the generator must keep seqs unique too.
    val muts = seqd.select(col("conn"), (col("mseq") * 10).as("seq"),
      lit("mutation").as("kind"), lit("update").as("op"),
      concat(lit("pk"), col("event_id")).as("pk"), col("ts_us"),
      col("event_type").as("value"))
    val txs = seqd
      .groupBy(col("conn"),
        ((col("mseq") - 1) / txSize).cast("long").as("tx"))
      .agg(min("mseq").as("lo"), max("mseq").as("hi"),
        max("ts_us").as("commit_ts"))
    val nulls = lit(null).cast("string")
    val begins = txs.select(col("conn"), (col("lo") * 10 - 2).as("seq"),
      lit("begin").as("kind"), nulls.as("op"), nulls.as("pk"),
      col("commit_ts").as("ts_us"), nulls.as("value"))
    val commits = txs.select(col("conn"), (col("hi") * 10 + 2).as("seq"),
      lit("commit").as("kind"), nulls.as("op"), nulls.as("pk"),
      col("commit_ts").as("ts_us"), nulls.as("value"))
    val lines = muts.unionByName(begins).unionByName(commits)
      .as[(Long, Long, String, String, String, Long, String)]
      .map { case (conn, seq, kind, op, pk, ts, value) =>
        (seq, conn, ChangeLogSource.renderLine(conn, seq, kind, op, pk,
          ts, value))
      }
      .toDF("seq", "conn", "line")
    // global line order == seq order across name-sorted part files:
    // range-partition by seq so part-0000i holds the i-th seq range
    // (a binlog is time-ordered; rotated segments preserve that)
    lines.repartitionByRange(segments, col("seq"), col("conn"))
      .sortWithinPartitions("seq", "conn")
      .select("line")
      .write.mode("overwrite").text(logDir)
    // _SUCCESS would list as a zero-line segment; drop it
    val fs = new Path(logDir).getFileSystem(new Configuration())
    fs.delete(new Path(logDir, "_SUCCESS"), false)
    // count what was WRITTEN (validates the persisted log) instead of
    // running the generation plan a second time just to count it
    spark.read.text(logDir).count()
  }

  /** One micro-batch that read log lines: its `triggerExecution`
    * duration (trigger begin through sink commit, incl. offset WAL —
    * the micro-batch analog of the reference's insert→consumer
    * latency, `mypipe` LatencySpec.scala:169-172). */
  case class Batch(triggerMs: Long)

  /** One drain: wall seconds, sink rows, the window's hypervisor-steal
    * seconds (a steal spike and a pipe regression look alike unless
    * the drain carries both), and its batches in order. */
  case class Drain(sec: Double, out: Long, stealSec: Double,
      batches: Seq[Batch]) {
    /** Nearest-rank percentile of the per-batch trigger latency. */
    def trigger(p: Double): Double =
      percentile(batches.map(_.triggerMs), p)
  }

  /** Nearest-rank percentile (`p` in (0, 1]); 0 for no samples. */
  def percentile[T](xs: Seq[T], p: Double)(implicit num: Numeric[T])
      : Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      num.toDouble(s(math.max(0,
        math.min(s.length - 1, math.ceil(p * s.length).toInt - 1))))
    }

  /** How long [[drain]] waits for the query's terminated event after
    * `awaitTermination` returns. */
  private val ListenerWaitMs = 60000L

  /** The log line of a source offset's JSON (0 before the first
    * batch). */
  private def lineOf(offsetJson: String): Long =
    if (offsetJson == null || offsetJson == "null") 0L
    else ChangeLogOffset.parse(offsetJson).line

  /** Drain the log at `logDir` through the full pipe into
    * `outDir/data` (checkpoint `outDir/ckpt`; a reused checkpoint
    * would see the log committed and no-op). `cap` admits at most that
    * many lines per micro-batch (the steady-state tailing shape: many
    * small batches instead of one backlog batch); it goes in as a pipe
    * key, so the session conf is untouched. A batch counts when its
    * source offset advanced: one that read only BEGINs or open
    * mutations emits no row but still did the work.
    *
    * Each batch's progress comes from a listener filtered on the
    * query's run id. Spark posts the terminated event after all of a
    * query's progress events on the same listener-bus queue, so once
    * that event arrives every batch has been seen: no progress ring
    * to size or overflow. */
  def drain(spark: SparkSession, logDir: String, outDir: String,
      cap: Long = Long.MaxValue): Drain = {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val ended = scala.collection.mutable.Set.empty[java.util.UUID]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.synchronized { ended += e.runId; ended.notifyAll() }
    }
    spark.streams.addListener(listener)
    try {
      val dataDir = s"$outDir/data"
      val steal0 = graft.util.HostSteal.jiffies()
      val t0 = System.nanoTime()
      val q = PipeAssembly.start(spark, Map(
        "source.path" -> logDir,
        "source.maxLinesPerTrigger" -> cap.toString,
        "sink.path" -> dataDir,
        "sink.checkpoint" -> s"$outDir/ckpt"), availableNow = true)
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val stealSec = graft.util.HostSteal.secondsSince(steal0)
      val deadline = System.currentTimeMillis() + ListenerWaitMs
      ended.synchronized {
        while (!ended(q.runId) && System.currentTimeMillis() < deadline)
          ended.wait(math.max(1L, deadline - System.currentTimeMillis()))
        require(ended(q.runId),
          s"no terminated event for run ${q.runId} in $ListenerWaitMs ms")
      }
      import scala.jdk.CollectionConverters._
      val batches = progress.asScala.toSeq
        .filter(p => p.runId == q.runId && p.sources.exists(s =>
          lineOf(s.endOffset) > lineOf(s.startOffset)))
        .map(p => Batch(
          p.durationMs.getOrDefault("triggerExecution", 0L).toLong))
      Drain(sec, spark.read.parquet(dataDir).count(), stealSec, batches)
    } finally spark.streams.removeListener(listener)
  }
}
