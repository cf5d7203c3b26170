package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these queries (fast targeted checks
    // while iterating; the driver always calls with exactly two args)
    val only = args.drop(2).toSet
    val spark = GraftSession.get()
    // AQE partition ceiling follows the data scale (see GraftSession):
    // the sf1 value-exact certification runs through here too
    GraftSession.tuneForData(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // drop this query's persisted intermediates — SQL cache AND
        // localCheckpoint RDD blocks — so ~190 queries' blocks don't
        // accumulate in the shared session (same hygiene as Bench)
        graft.util.Caches.releaseAll(spark)
      }
    import graft.util.Json.quote
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sf1-capable iterative programs for the recursive-CTE oracles —
    // consumed by scripts/check_oracle.py --iterative; the driver's
    // sf0.01 gate ignores this file and runs oracle_sql.json as-is.
    Files.writeString(Paths.get(s"$outDir/oracle_iter.json"),
      IterOracles.renderJson)
    spark.stop()
  }
}
