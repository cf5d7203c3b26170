package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import graft.util.Json
import org.json4s.JArray
import org.json4s.JsonDSL._

/** Latency/throughput frontier sweep (VERDICT r12 item 2): the
  * low-latency profile's admission cap, re-derived from measurement.
  * Each cell is a fresh capped-admission [[streaming.ReplayBench.drain]]
  * of the same generated log at one cap, and FRONTIER.json gets its
  * p50/p95/max trigger latency. The tx pipe keeps no state, so the cap
  * is the only axis.
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
      Seq(2048L, 4096L, 8192L).map { cap =>
        val d = streaming.ReplayBench.drain(spark, s"$work/log",
          s"$work/cell_c$cap", cap)
        val (p50, p95, max) = (d.trigger(0.5), d.trigger(0.95), d.trigger(1))
        System.err.println(f"[frontier] cap=$cap p50=$p50%.0f " +
          f"p95=$p95%.0f batches=${d.batches.size} steal=${d.stealSec}%.1fs")
        Json.obj("cap" -> cap,
          "batches" -> d.batches.size, "p50_ms" -> Json.fixed(p50, 0),
          "p95_ms" -> Json.fixed(p95, 0), "max_ms" -> Json.fixed(max, 0),
          "steal_sec" -> Json.fixed(d.stealSec, 2))
      }
    } finally fs.delete(new Path(work), true)
    val json = Json.obj("metric" -> "latency_frontier", "sf" -> sfDir,
      "cells" -> JArray(cells.toList))
    println()
    println(Json.render(json))
    Json.write("FRONTIER.json", json)
    spark.stop()
  }
}
