package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool: dump `.explain("formatted")`
  * for named queries to `<outDir>/<query>_<suffix>.txt` — the
  * before/after plan evidence the round's OPTIMIZATION_r16.md claims
  * are checked against. Usage:
  *
  *   sbt "runMain graft.ExplainDump SFDIR OUTDIR SUFFIX q1,q2,..."
  *
  * Plans are rendered WITHOUT executing (AdaptiveSparkPlan
  * isFinalPlan=false) — the static shape: Exchange count, join
  * strategy, PushedFilters/ReadSchema, codegen spans. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val specs = SparkEntry.select(
      args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.get()
    GraftSession.tuneForData(spark, dir)
    specs.foreach { s =>
      val txt = s.build(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val out = s"$outDir/${s.name}_$suffix.txt"
      Files.write(Paths.get(out), txt.getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[explain] wrote $out")
    }
    spark.stop()
  }
}
