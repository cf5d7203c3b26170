package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-level invariants of the driver contract — these keep the
  * round-10 "complete oracle surface" property true by construction. */
class SparkEntrySpec extends AnyFunSuite {

  /** Round-10 end state: EVERY declared query carries a DuckDB oracle
    * — including the brief-mandated media-decode stub, whose
    * deterministic fake fold turned out to be exactly reproducible
    * IEEE float32 arithmetic (Multimodal.mmDecodeFeaturesSql). An
    * empty rows-only set is the milestone; anything appearing here is
    * a regression of it. */
  test("every declared query carries an oracle (zero rows-only)") {
    val missing =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"rows-only set drifted: $missing")
  }

  test("no orphaned oracles: every oracle names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("oracle SQL is single-statement (no stray semicolons the " +
    "driver's comparator would reject)") {
    val bad = SparkEntry.oracleSql.filter(_._2.contains(";"))
    assert(bad.isEmpty, s"semicolon in oracle SQL: ${bad.keySet}")
  }

  test("a registry with a repeated name fails to build") {
    val q = SparkEntry.specs.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.registry(SparkEntry.specs :+ q.copy(oracle = "SELECT 1")))
    assert(e.getMessage.contains(q.name))
  }

  test("each module is listed once and its builders live in its package " +
    "(the layer a trace attributes a query's construction to)") {
    assert(SparkEntry.modules.distinct.size === SparkEntry.modules.size)
    assert(SparkEntry.queries.size === SparkEntry.specs.size)
    for (m <- SparkEntry.modules; s <- m.specs) {
      val pkg = m.getClass.getPackageName + "."
      val cls = SparkEntry.queries(s.name).getClass.getName
      assert(pkg.startsWith("graft.") && cls.startsWith(pkg),
        s"${s.name}: $cls is not in $pkg")
    }
  }

  test("select keeps registry order and fails naming every unknown " +
    "query") {
    val names = SparkEntry.specs.map(_.name)
    val picked = Seq(names(2), names(0))
    assert(SparkEntry.select(picked).map(_.name) === Seq(names(0), names(2)))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(picked ++ Seq("q1_typo", "no_such_query")))
    assert(e.getMessage.contains("q1_typo") &&
      e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains(names(0)))
  }
}
