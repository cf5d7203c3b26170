package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query: its DataFrame builder over a data directory and the
  * DuckDB-equivalent SQL it is checked against. Column names are
  * aliased identically on both sides (the oracle comparison sorts
  * columns by name before hashing). */
final case class QuerySpec(name: String,
    build: (SparkSession, String) => DataFrame, oracle: String)

/** A module that declares queries; [[SparkEntry.modules]] lists each
  * one once. */
trait QueryModule {
  def specs: Seq[QuerySpec]
}

/** The query registry (SURVEY.md §7).
  *
  * One registry: every implemented operator (SURVEY.md §2 plus the
  * LLM-data-pipeline extensions) is one [[QuerySpec]] declared by its
  * module, so a query cannot exist without an oracle. `queries` and
  * `oracleSql` are projections of that list.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  lazy val modules: Seq[QueryModule] = Seq(
    operators.Relational, operators.RelationalExt, operators.RelationalSql,
    operators.RelationalMore, operators.RelationalThird,
    operators.RelationalFourth, operators.RelationalFifth, operators.CdcOps,
    operators.TxOps, operators.Sketches, operators.AsOfJoin,
    operators.CdcAnalytics, operators.Layout, operators.Stats,
    operators.RuntimeFilter, operators.ScaleOps, functions.Envelope,
    functions.SpecificEnvelope, functions.TextAnalysis, functions.Dedup,
    functions.Similarity, functions.Multimodal, functions.Ivf,
    functions.TrainPrep, functions.Pq, functions.LangModel, functions.Pca,
    functions.CorpusOps, functions.SearchIndex, functions.Dsir,
    functions.FuzzyMatch, functions.QualityClassifier,
    functions.DatasetBuild, streaming.WindowedAgg)

  /** `specs` after checking that no name is declared twice. */
  def registry(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val twice = specs.groupBy(_.name).collect {
      case (n, s) if s.size > 1 => n
    }
    require(twice.isEmpty,
      s"query names declared twice: ${twice.mkString(", ")}")
    specs
  }

  lazy val specs: Seq[QuerySpec] = registry(modules.flatMap(_.specs))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.build).toMap

  lazy val oracleSql: Map[String, String] =
    specs.map(s => s.name -> s.oracle).toMap

  /** The specs `names` lists, in registry order. Fails naming every
    * name no module declares: a typo must not leave a tool running
    * fewer queries than it was asked for. */
  def select(names: Seq[String]): Seq[QuerySpec] = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    specs.filter(s => names.contains(s.name))
  }
}
