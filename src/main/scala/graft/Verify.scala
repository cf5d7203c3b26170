package graft
import graft.util.Json
import org.json4s.JString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these queries (fast targeted checks
    // while iterating; the driver always calls with exactly two args)
    val only = args.drop(2).toSeq
    val specs = if (only.isEmpty) SparkEntry.specs else SparkEntry.select(only)
    val spark = GraftSession.get()
    // AQE partition ceiling follows the data scale (see GraftSession):
    // the sf1 value-exact certification runs through here too
    GraftSession.tuneForData(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    specs.foreach { s =>
      try s.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${s.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${s.name} failed: ${e.getMessage}")
      }
      // drop this query's persisted intermediates — SQL cache AND
      // localCheckpoint RDD blocks — so ~190 queries' blocks don't
      // accumulate in the shared session (same hygiene as Bench)
      graft.util.Caches.releaseAll(spark)
    }
    Json.write(s"$outDir/oracle_sql.json",
      Json.obj(specs.map(s => s.name -> JString(s.oracle)): _*))
    // sf1-capable iterative programs for the recursive-CTE oracles —
    // consumed by scripts/check_oracle.py --iterative; the driver's
    // sf0.01 gate ignores this file and runs oracle_sql.json as-is.
    Json.write(s"$outDir/oracle_iter.json", IterOracles.json)
    spark.stop()
  }
}
