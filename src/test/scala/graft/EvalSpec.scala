package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.sources.ChangeLogSource
import graft.streaming.PipeAssembly
import graft.util.Eval
import org.apache.spark.sql.functions._

/** Runtime-compiled config conditions — the reference's `Eval` surface
  * (`mypipe-api/src/main/scala/mypipe/util/Eval.scala:6-13`; usage in
  * `include-event-condition`, e.g.
  * `mypipe-api/src/test/resources/application.conf`'s
  * `db == "mypipe" && table == "user"` shape). */
class EvalSpec extends SparkSpec {

  test("Eval compiles expressions, closures, and multi-statement code") {
    assert(Eval[Int]("1 + 2") === 3)
    val f = Eval[(Long, String) => Boolean](
      "(conn: Long, kind: String) => conn != 2 && kind.nonEmpty")
    assert(f(1L, "mutation") && !f(2L, "mutation") && !f(1L, ""))
    // arbitrary Scala — the Turing-complete part SQL can't express
    val fib = Eval[Int => Int](
      """def fib(n: Int): Int = if (n < 2) n else fib(n - 1) + fib(n - 2)
        |fib _""".stripMargin)
    assert(fib(10) === 55)
  }

  test("Eval.compiled memoizes per source string") {
    val src = "(x: Int) => x * 3"
    val a = Eval.compiled[Int => Int](src)
    val b = Eval.compiled[Int => Int](src)
    assert(a eq b, "same source must yield the cached closure")
    assert(a(7) === 21)
  }

  test("filter.scalaCondition gates events through a running pipe") {
    val log = tempFile("pipeeval", ".tsv")
    Files.write(log, Seq(
      ChangeLogSource.renderLine(1, 1, "mutation", "insert", "keep-a", 5, "x"),
      ChangeLogSource.renderLine(2, 2, "mutation", "insert", "drop-conn", 6, "y"),
      ChangeLogSource.renderLine(1, 3, "mutation", "delete", "drop-del", 7, ""),
      ChangeLogSource.renderLine(1, 4, "mutation", "insert", "keep-b", 8, "z"))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val out = tempDir("pipeevalout").toString
    // a condition SQL could not express this way: pattern-matching
    // Scala over (conn, kind, op, pk) — the reference's
    // include-event-condition contract
    val q = PipeAssembly.start(spark, Map(
      "source.path" -> log.toString,
      "filter.scalaCondition" ->
        """(conn: Long, kind: String, op: String, pk: String) =>
          |  (conn, op) match {
          |    case (2L, _) => false
          |    case (_, "delete") => false
          |    case _ => pk.startsWith("keep")
          |  }""".stripMargin,
      "sink.path" -> s"$out/data",
      "sink.checkpoint" -> s"$out/chk"), availableNow = true)
    q.awaitTermination(60000); q.stop()
    val pks = spark.read.parquet(s"$out/data")
      .select("pk").collect().map(_.getString(0)).sorted.toSeq
    assert(pks === Seq("keep-a", "keep-b"))
  }

  test("SQL and Scala conditions compose (SQL first, Scala second)") {
    val log = tempFile("pipeboth", ".tsv")
    Files.write(log, Seq(
      ChangeLogSource.renderLine(1, 1, "mutation", "insert", "a", 5, "x"),
      ChangeLogSource.renderLine(2, 2, "mutation", "insert", "b", 6, "y"),
      ChangeLogSource.renderLine(3, 3, "mutation", "insert", "c", 7, "z"))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val out = tempDir("pipebothout").toString
    val q = PipeAssembly.start(spark, Map(
      "source.path" -> log.toString,
      "filter.condition" -> "conn <> 2",
      "filter.scalaCondition" ->
        "(conn: Long, kind: String, op: String, pk: String) => conn != 3",
      "sink.path" -> s"$out/data",
      "sink.checkpoint" -> s"$out/chk"), availableNow = true)
    q.awaitTermination(60000); q.stop()
    val pks = spark.read.parquet(s"$out/data")
      .select("pk").collect().map(_.getString(0)).toSeq
    assert(pks === Seq("a"), "both filters must apply")
  }
}
