package graft

import graft.sources.ChangeLogSource
import graft.streaming.ReplayBench
import org.apache.spark.sql.functions._

/** The one drain every CDC measurement tool runs must be a REAL pipe
  * run: every generated mutation reaches the sink tx-stamped, and every
  * non-empty batch shows up in its digest. */
class ReplayBenchSpec extends SparkSpec {

  test("generated backlog drains completely through the tx pipe") {
    val work = tempDir("replay_bench").toString
    val lines = ReplayBench.generateLog(spark, sf, s"$work/log")
    val d = ReplayBench.drain(spark, s"$work/log", s"$work/sink")
    val nEvents = Tables.events(spark, sf).count()
    // every event row became exactly one committed mutation; markers
    // (begin/commit) add tx structure but emit no rows
    assert(d.out === nEvents, s"sink rows ${d.out} != events $nEvents")
    assert(lines > nEvents, "log carries begin/commit markers")
    assert(d.sec > 0 && lines / d.sec > 0)
    assert(d.batches.nonEmpty)
    // spot-check tx semantics on the sink: txids group <=5 mutations,
    // and each tx's mutations share one commit timestamp
    val sink = spark.read.parquet(s"$work/sink/data")
    val perTx = sink.groupBy("txid")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("commitTsUs")).as("nts"))
    assert(perTx.filter(col("n") > 5).count() === 0, "tx size cap")
    assert(perTx.filter(col("nts") =!= 1).count() === 0,
      "commit-ts rewrite within tx")
  }

  test("latency probe yields ordered percentiles over many capped batches") {
    val work = tempDir("replay_latency").toString
    val lines = ReplayBench.generateLog(spark, sf, s"$work/log")
    val cap = 1024L
    val d = ReplayBench.drain(spark, s"$work/log", s"$work/lat", cap)
    val (p50, p95, max) = (d.trigger(0.5), d.trigger(0.95), d.trigger(1))
    // capped admission must split the drain into many batches: at
    // least ceil(lines/cap) (rotated-segment boundaries can add more)
    assert(d.batches.size >= (lines + cap - 1) / cap,
      s"${d.batches.size} batches for $lines lines at cap $cap")
    assert(p50 > 0 && p50 <= p95 && p95 <= max,
      s"percentiles out of order: p50=$p50 p95=$p95 max=$max")
    // every mutation still lands exactly once under capped triggers
    assert(d.out === Tables.events(spark, sf).count())
    assert(spark.read.parquet(s"$work/lat/data").count() === d.out)
  }

  test("drain sees every batch past the progress ring and writes no conf") {
    // 8 transactions of 5 lines, drained 4 lines per batch: 10 batches,
    // 5x more than the session keeps in its progress ring
    val work = tempDir("replay_ring")
    val log = work.resolve("log")
    java.nio.file.Files.createDirectories(log)
    val txs = (0 until 8).flatMap { t =>
      val s = t * 10L
      Seq(ChangeLogSource.renderLine(1, s + 1, "begin", "", "", 0, "")) ++
        (2 to 4).map(i => ChangeLogSource.renderLine(1, s + i,
          "mutation", "insert", s"pk$t-$i", s + i, "v")) :+
        ChangeLogSource.renderLine(1, s + 5, "commit", "", "", s + 5, "")
    }
    java.nio.file.Files.write(log.resolve("part-00000"),
      txs.mkString("", "\n", "\n").getBytes("UTF-8"))
    val ringKey = "spark.sql.streaming.numRecentProgressUpdates"
    val prevRing = spark.conf.getAll.get(ringKey)
    spark.conf.set(ringKey, "2")
    try {
      val before = spark.conf.getAll
      val d = ReplayBench.drain(spark, log.toString,
        work.resolve("out").toString, cap = 4)
      assert(d.batches.size === 10)
      assert(d.out === 24)
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      assert(changed.isEmpty,
        s"drain changed session conf keys $changed")
    } finally prevRing.fold(spark.conf.unset(ringKey))(
      spark.conf.set(ringKey, _))
  }

  test("per-event state-machine cost clears the reference's 10 ms latency bound") {
    // The reference's ONLY hard perf number (BASELINE.md): mean
    // insert→consumer latency < 10 ms over ≥100 sequential events
    // (reference test.conf:14-15, LatencySpec.scala:169-172). The
    // micro-batch model moves DELIVERY latency to the trigger, but the
    // per-event PROCESSING cost of the same state machine — the tx
    // fold every event passes through — is directly comparable, and
    // must clear the bound with orders of magnitude to spare for the
    // trigger budget to dominate.
    import graft.streaming.TxPipeline
    import graft.streaming.TxPipeline.ChangeEvent
    val n = 100000
    val events = (0 until n).map { i =>
      val kind = i % 7 match {
        case 0 => "begin"
        case 6 => "commit"
        case _ => "mutation"
      }
      ChangeEvent(1L, i.toLong, kind, "update", s"pk$i", i.toLong,
        Map("value" -> i.toString))
    }
    // warm-up then timed fold, batched as micro-batches of 1000
    def run(): Long = {
      val t0 = System.nanoTime()
      events.grouped(1000).foldLeft(TxPipeline.emptyState) { (st, batch) =>
        TxPipeline.advance(1L, batch, st)._1
      }
      System.nanoTime() - t0
    }
    run()
    val perEventMicros = run() / 1000.0 / n
    // reference bound is 10 ms = 10000 µs END TO END; the state machine
    // itself must be far under it (it shares the event loop budget)
    assert(perEventMicros < 1000.0,
      f"state-machine fold costs $perEventMicros%.1f µs/event")
  }
}
