package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import graft.util.Json
import org.json4s.JArray
import org.json4s.JsonDSL._

/** Latency/throughput frontier sweep (VERDICT r12 item 2): re-derive
  * the low-latency profile's defaults ON THE CURRENT STATE-STORE
  * STACK. The committed SURVEY §16 frontier predates the
  * `transformWithState`+RocksDB migration, which changed the
  * per-batch state cost model (store load + changelog commit per
  * partition per trigger); this main re-runs the
  * (state partitions × admission cap) grid through
  * [[streaming.ReplayBench.drain]] — each cell a fresh capped-admission
  * drain of the same generated log at that state width — and writes
  * FRONTIER.json with per-cell p50/p95/max trigger latency AND the
  * RocksDB commit share (`commit_p50_ms`), so the profile's knobs are
  * re-derived from measurements of the operator actually deployed.
  *
  * `sbt "runMain graft.LatencyFrontier"` over `SPARK_GRAFT_SF_DIR`
  * (default sf0.1). */
object LatencyFrontier {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    val work = "/tmp/graft_frontier"
    val fs = new Path(work).getFileSystem(new Configuration())
    fs.delete(new Path(work), true)
    val cells = try {
      streaming.ReplayBench.generateLog(spark, sfDir, s"$work/log")
      for {
        parts <- Seq(8, 4, 2, 1)
        cap <- Seq(2048L, 4096L, 8192L)
      } yield {
        val d = streaming.ReplayBench.drain(spark, s"$work/log",
          s"$work/cell_p${parts}_c$cap", cap, Some(parts))
        val (p50, p95, max) = (d.trigger(0.5), d.trigger(0.95), d.trigger(1))
        System.err.println(f"[frontier] parts=$parts cap=$cap " +
          f"p50=$p50%.0f p95=$p95%.0f commit_p50=${d.commit(0.5)}%.0f " +
          f"batches=${d.batches.size} steal=${d.stealSec}%.1fs")
        Json.obj("state_partitions" -> parts, "cap" -> cap,
          "batches" -> d.batches.size, "p50_ms" -> Json.fixed(p50, 0),
          "p95_ms" -> Json.fixed(p95, 0), "max_ms" -> Json.fixed(max, 0),
          "commit_p50_ms" -> Json.fixed(d.commit(0.5), 0),
          "commit_p95_ms" -> Json.fixed(d.commit(0.95), 0),
          "steal_sec" -> Json.fixed(d.stealSec, 2))
      }
    } finally fs.delete(new Path(work), true)
    val json = Json.obj("metric" -> "latency_frontier", "sf" -> sfDir,
      "provider" -> "rocksdb", "cells" -> JArray(cells.toList))
    println()
    println(Json.render(json))
    Json.write("FRONTIER.json", json)
    spark.stop()
  }
}
