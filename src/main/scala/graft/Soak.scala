package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import graft.util.Json
import org.json4s.{JArray, JBool, JNull, JValue}
import org.json4s.JsonDSL._
import streaming.ReplayBench.percentile

/** Streaming soak harness (VERDICT r12 item 8): one CONTINUOUS
  * capped-admission [[streaming.ReplayBench.drain]] of a multi-copy
  * backlog through the full CDC pipe — ChangeLogSource (tx grouping in
  * the reader) → checkpointed parquet sink — long enough (≥ 100
  * micro-batches; minutes of wall clock) that per-batch costs which
  * grow with the processed volume (offset and commit logs, the
  * driver's line index, the sink's file listing) show as a climb. One
  * streaming query, exactly as in a day-long tail-follow consumer;
  * only the trigger cadence differs.
  *
  * Asserted/reported invariant, written to SOAK.json:
  *  - FLAT LATENCY: second-half p50 within 1.3× of first-half p50
  *    (a per-batch cost tracking the volume shows as a monotone
  *    climb), plus the per-quarter p50 trend for the artifact. Judged
  *    only over at least [[Soak.MinBatches]] batches: a shorter drain
  *    writes `"flat_p50_ok":null` and exits 1 ("too few batches"),
  *    and a quarter with no batches is `null`, never a measured 0 ms.
  *
  * `sbt "runMain graft.Soak [copies] [cap]"` over
  * `SPARK_GRAFT_SF_DIR` (default sf0.1; copies=4, cap=4096 ⇒ ~310
  * batches, ~3-6 min). */
object Soak {

  /** Fewest batches the check judges: four per half, so a half's p50
    * is never one batch's value. */
  val MinBatches = 8

  /** Digest of one drain: trigger-latency p50 per quarter and per half
    * (None where no batch falls) and the verdict (None under
    * [[MinBatches]] batches). */
  case class Digest(quarters: Seq[Option[Double]],
      firstHalf: Option[Double], secondHalf: Option[Double],
      flatOk: Option[Boolean])

  /** `triggerMs` holds one entry per batch. */
  def digest(triggerMs: Seq[Long]): Digest = {
    val n = triggerMs.length
    def p50(xs: Seq[Long]) =
      if (xs.isEmpty) None else Some(percentile(xs, 0.5))
    val (h1, h2) = triggerMs.splitAt(n / 2)
    val (h1P50, h2P50) = (p50(h1), p50(h2))
    Digest(
      (0 until 4).map(i => p50(triggerMs.slice(i * n / 4, (i + 1) * n / 4))),
      h1P50, h2P50,
      Option.when(n >= MinBatches)(h2P50.get <= 1.3 * h1P50.get))
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
      (lines, streaming.ReplayBench.drain(spark, s"$work/log",
        s"$work/sink", cap))
    } finally fs.delete(new Path(work), true)
    val g = digest(d.batches.map(_.triggerMs))
    val n = d.batches.size
    def ms(p: Option[Double]) = p.fold[JValue](JNull)(Json.fixed(_, 0))
    def ok(v: Option[Boolean]) = v.fold[JValue](JNull)(JBool(_))
    val json = Json.obj("metric" -> "soak", "sf" -> sfDir,
      "copies" -> copies, "cap" -> cap, "lines" -> lines, "batches" -> n,
      "sec" -> Json.fixed(d.sec, 1), "steal_sec" -> Json.fixed(d.stealSec, 2),
      "p50_ms_first_half" -> ms(g.firstHalf),
      "p50_ms_second_half" -> ms(g.secondHalf),
      "p50_ms_quarters" -> JArray(g.quarters.map(ms).toList),
      "p95_ms" -> Json.fixed(d.trigger(0.95), 0),
      "flat_p50_ok" -> ok(g.flatOk))
    println()
    println(Json.render(json))
    Json.write("SOAK.json", json)
    spark.stop()
    if (g.flatOk.isEmpty) {
      System.err.println(s"[soak] too few batches to judge: " +
        s"$n < $MinBatches")
      sys.exit(1)
    }
    if (g.flatOk.contains(false)) sys.exit(1)
  }
}
