package graft

import org.apache.spark.sql.SparkSession

/** Engine catalog installer: registers every lake table as a view and
  * the engine's native expressions as SQL functions, so the full
  * surface is reachable from pure `spark.sql` — the Spark analog of the
  * reference's config-file-driven setup (a mypipe user drives
  * everything declaratively; here that means SQL).
  */
object GraftCatalog {

  /** Imperative twin of [[GraftExtensions]]'s `injectOptimizerRule`
    * for sessions built without `spark.sql.extensions`. Idempotent. */
  def installOptimizations(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(graft.operators.HoistInvariantNorms))
      spark.experimental.extraOptimizations =
        cur :+ graft.operators.HoistInvariantNorms
    val strats = spark.experimental.extraStrategies
    if (!strats.contains(graft.plans.TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        strats :+ graft.plans.TopKPerKeyStrategy
  }

  def install(spark: SparkSession, dir: String): Unit = {
    installOptimizations(spark)
    Tables.names.foreach { t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }
    GraftExtensions.functions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
