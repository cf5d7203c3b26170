package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import streaming.ReplayBench.percentile

/** Streaming soak harness (VERDICT r12 item 8): one CONTINUOUS
  * capped-admission [[streaming.ReplayBench.drain]] of a multi-copy
  * backlog through the full CDC pipe — ChangeLogSource →
  * transformWithState tx grouping on the RocksDB provider →
  * checkpointed parquet sink — long enough
  * (≥ 100 micro-batches; minutes of wall clock) that state-store
  * compaction and changelog-checkpoint behavior, which never shows in
  * a 35-batch run, is exercised. One streaming query: state lives
  * across every batch exactly as in a day-long tail-follow consumer;
  * only the trigger cadence differs, which does not change state
  * dynamics.
  *
  * Asserted/reported invariants, written to SOAK.json:
  *  - FLAT LATENCY: second-half p50 within 1.3× of first-half p50
  *    (a leaking state store shows as a monotone climb), plus the
  *    per-quarter p50 trend for the artifact. Judged only over at
  *    least [[Soak.MinBatches]] batches: a shorter drain writes
  *    `"flat_p50_ok":null` and exits 1 ("too few batches"), and a
  *    quarter with no batches is `null`, never a measured 0 ms.
  *  - BOUNDED STATE DISK: `rocksdbSstFileSize` at the last batch
  *    within max(4× first-half median, 8 MB) — tx-grouping state is
  *    transient (buffers clear on commit), so SST size must plateau,
  *    not track the processed volume.
  *
  * `sbt "runMain graft.Soak [copies] [cap]"` over
  * `SPARK_GRAFT_SF_DIR` (default sf0.1; copies=4, cap=4096 ⇒ ~310
  * non-empty batches, ~3-6 min). */
object Soak {

  /** Fewest batches the flat-p50 check judges: four per half, so a
    * half's p50 is never one batch's time. */
  val MinBatches = 8

  /** Trigger-latency digest of one drain: p50 per quarter and per half
    * (None where no batch falls) and the flat-p50 verdict (second half
    * within 1.3× of the first; None under [[MinBatches]] batches). */
  case class Digest(quarters: Seq[Option[Double]],
      firstHalf: Option[Double], secondHalf: Option[Double],
      flatOk: Option[Boolean])

  def digest(triggerMs: Seq[Long]): Digest = {
    val n = triggerMs.length
    def p50(xs: Seq[Long]) =
      if (xs.isEmpty) None else Some(percentile(xs, 0.5))
    val (h1, h2) = triggerMs.splitAt(n / 2)
    val (h1P50, h2P50) = (p50(h1), p50(h2))
    Digest(
      (0 until 4).map(i => p50(triggerMs.slice(i * n / 4, (i + 1) * n / 4))),
      h1P50, h2P50,
      if (n < MinBatches) None else Some(h2P50.get <= 1.3 * h1P50.get))
  }

  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = if (args.length > 0) args(0).toInt else 4
    val cap = if (args.length > 1) args(1).toLong else 4096L
    val spark = GraftSession.get()
    val work = "/tmp/graft_soak"
    val fs = new Path(work).getFileSystem(new Configuration())
    fs.delete(new Path(work), true)
    val (lines, d) = try {
      val lines = streaming.ReplayBench.generateLog(
        spark, sfDir, s"$work/log", copies = copies)
      // steady-tailing state width (the low-latency profile's
      // derivation: every micro-batch pays load+commit per state
      // partition)
      (lines, streaming.ReplayBench.drain(spark, s"$work/log",
        s"$work/sink", cap, statePartitions = Some(4)))
    } finally fs.delete(new Path(work), true)
    val g = digest(d.batches.map(_.triggerMs))
    val sst = d.batches.map(_.custom.getOrElse("rocksdbSstFileSize", 0L))
    val n = sst.length
    val sstH1Med = percentile(sst.take(n / 2), 0.5)
    val sstLast = if (sst.isEmpty) 0L else sst.last
    val sstOk = sstLast <= math.max(4.0 * sstH1Med, 8e6)
    def ms(p: Option[Double]) = p.fold("null")("%.0f".format(_))
    val json =
      s"""{"metric":"soak","sf":"$sfDir","copies":$copies,"cap":$cap,""" +
        s""""lines":$lines,"batches":$n,"sec":${"%.1f".format(d.sec)},""" +
        s""""steal_sec":${"%.2f".format(d.stealSec)},""" +
        s""""p50_ms_first_half":${ms(g.firstHalf)},""" +
        s""""p50_ms_second_half":${ms(g.secondHalf)},""" +
        s""""p50_ms_quarters":[${g.quarters.map(ms).mkString(",")}],""" +
        s""""p95_ms":${"%.0f".format(d.trigger(0.95))},""" +
        s""""commit_p50_ms":${"%.0f".format(d.commit(0.5))},""" +
        s""""sst_bytes":{"first_half_median":${"%.0f".format(sstH1Med)},""" +
        s""""max":${if (sst.isEmpty) 0L else sst.max},"last":$sstLast},""" +
        s""""flat_p50_ok":${g.flatOk.getOrElse("null")},""" +
        s""""sst_bounded_ok":$sstOk}"""
    println()
    println(json)
    try {
      val w = new java.io.PrintWriter("SOAK.json")
      try w.println(json) finally w.close()
    } catch { case _: Throwable => }
    spark.stop()
    if (g.flatOk.isEmpty) {
      System.err.println(s"[soak] too few batches to judge flat p50: " +
        s"$n < $MinBatches")
      sys.exit(1)
    }
    if (!g.flatOk.get || !sstOk) sys.exit(1)
  }
}
