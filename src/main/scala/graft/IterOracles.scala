package graft

import graft.util.Json
import org.json4s.{JObject, JString}
import org.json4s.JsonDSL._

/** sf1-capable iterative oracle programs for the four queries whose
  * one-shot DuckDB oracle is a recursive CTE that blows the per-query
  * time cap at 10× the bench scale (CORRECTNESS gates run at sf0.01,
  * where the recursive form is fine and stays the driver's contract;
  * this is the builder's own 10×-scale re-check).
  *
  * Each program replaces ONLY the recursion with a bounded
  * outside-SQL step over DuckDB-materialized inputs:
  *
  *  - `cc` (dd_minhash_groups, sim_neardup_groups): the recursive CTE
  *    is a transitive closure — O(|nodes| × |component|) intermediate
  *    rows. The iterative path materializes the pair list (the entire
  *    heavy candidate-generation SQL, unchanged), runs union-find over
  *    it, registers the (node, label) table back into DuckDB, and
  *    re-uses the recursive oracle's own final grouping SQL verbatim
  *    — so dtypes and member-list formatting are DuckDB's, not
  *    Python's.
  *  - `pack` / `pack_report` (tp_dataset_build, tp_dataset_build_report):
  *    the recursive `pfold` joins `sized` once per row number (~1000
  *    iterations at sf1). The iterative path materializes `sized` in
  *    fold order, runs the O(n) first-fit fold ([[functions.DatasetBuild
  *    .packAssign]]'s exact rule) in the check script, registers the
  *    (doc_id, bin) assignment, and lets DuckDB produce the final
  *    frame / stage-7 row.
  *
  * Equivalence to the recursive form is asserted by
  * `scripts/check_oracle.py --crosscheck` at sf0.01 (both paths run,
  * frames compared value-exact) — see SURVEY §round-12.
  *
  * Rendered to `oracle_iter.json` by [[Verify]]; consumed by
  * `scripts/check_oracle.py --iterative`. The driver ignores it. */
object IterOracles {

  private def ccSpec(pairsSql: String, c1: String, c2: String,
      finalSql: String): JObject =
    Json.obj("kind" -> "cc", "views" -> Json.obj("pairs_mat" -> pairsSql),
      "col1" -> c1, "col2" -> c2, "final_sql" -> finalSql)

  private def packSpec(kind: String, views: Seq[(String, String)],
      capacity: Int, finalSql: String): JObject =
    Json.obj("kind" -> kind,
      "views" -> Json.obj(views.map { case (k, v) => k -> JString(v) }: _*),
      "capacity" -> capacity, "final_sql" -> finalSql)

  /** Final grouping of dd_minhash_groups' recursive oracle, verbatim,
    * over the union-find `labels(node, label)` view. */
  private val ddGroupsFinal =
    """SELECT label AS keeper, CAST(COUNT(*) AS BIGINT) AS cluster_size,
      |  string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
      |FROM labels GROUP BY label ORDER BY keeper""".stripMargin

  /** Final grouping of sim_neardup_groups' recursive oracle, verbatim
    * modulo `id` → `node`. */
  private val simGroupsFinal =
    """SELECT label AS keeper, COUNT(*) AS cluster_size,
      |  array_to_string(list_transform(list_sort(list(node)),
      |    x -> CAST(x AS VARCHAR)), ',') AS members
      |FROM labels GROUP BY label ORDER BY keeper""".stripMargin

  private val packFinal =
    """SELECT s.doc_id, s.split, s.shard, CAST(p.bin AS BIGINT) AS bin,
      |  s.n_tok, s.residual_len, s.residual_hash
      |FROM sized_mat s JOIN pack_assign p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  private val packReportFinal =
    """SELECT * FROM stages16
      |UNION ALL
      |SELECT CAST(7 AS INT) AS stage_idx, 'pack' AS stage,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
      |    (SELECT DISTINCT s.split, s.shard, p.bin
      |     FROM sized_mat s JOIN pack_assign p USING (doc_id))) AS n_units,
      |  CAST(NULL AS BIGINT) AS id_sum,
      |  (SELECT CAST(SUM(n_tok) AS BIGINT) FROM sized_mat) AS tok_sum
      |ORDER BY stage_idx""".stripMargin

  /** fill_frac/fits_ok interpolate the SAME capacity the fold packs
    * with (ADVICE r12: a hardcoded `/ 128` here would silently diverge
    * from the Python fold if [[functions.DatasetBuild.PackCapacity]]
    * ever changed). */
  private def greedyFinal(capacity: Int) =
    s"""SELECT s.shard, CAST(p.bin AS BIGINT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(s.n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(s.n_tok) AS DOUBLE) / $capacity AS fill_frac,
       |  (SUM(s.n_tok) <= $capacity OR COUNT(*) = 1) AS fits_ok
       |FROM sized_mat s JOIN pack_assign p USING (doc_id)
       |GROUP BY s.shard, p.bin ORDER BY shard, bin""".stripMargin

  /** The dataset-build prep chain, STAGED as temp tables (see
    * [[functions.DatasetBuild.tpSurvSql]] — DuckDB re-evaluates
    * inlined CTEs per reference, so each stage boundary materializes
    * once and the next stage reads it). */
  private def buildStages: Seq[(String, String)] = Seq(
    "surv_mat" -> functions.DatasetBuild.tpSurvSql(),
    "cleaned_mat" -> functions.DatasetBuild.tpCleanedStageSql(),
    "sized_mat" -> functions.DatasetBuild.tpSizedStageSql())

  /** query name → iterative-program object. */
  def specs: Seq[(String, JObject)] = {
    val cap = functions.DatasetBuild.PackCapacity
    Seq(
      "dd_minhash_groups" -> ccSpec(
        functions.Dedup.ddMinhashLshSql(), "d1", "d2", ddGroupsFinal),
      "sim_neardup_groups" -> ccSpec(
        functions.Similarity.simNearDupSql, "v1", "v2", simGroupsFinal),
      "tp_dataset_build" -> packSpec("pack", buildStages, cap, packFinal),
      "tp_dataset_build_report" -> packSpec("pack_report",
        buildStages :+
          ("stages16" -> functions.DatasetBuild.tpStages16Sql()),
        cap, packReportFinal),
      "tp_pack_greedy" -> packSpec("pack",
        Seq("sized_mat" -> functions.TrainPrep.tpPackGreedySizedSql()),
        cap, greedyFinal(cap)))
  }

  def json: JObject = Json.obj(specs: _*)
}
