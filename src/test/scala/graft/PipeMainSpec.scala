package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.sources.ChangeLogSource

/** The CLI pipe runner (reference `PipeRunner.scala:17-56` — config
  * file in, N concurrent pipes out, clean exit accounting). */
class PipeMainSpec extends SparkSpec {

  test("config parser: comments, blanks, first-= split, trim, fail-fast") {
    val conf = PipeMain.parseConfig(Seq(
      "# a comment",
      "! another comment style",
      "",
      "  source.path = /tmp/log.tsv  ",
      "pipes.p1.filter.condition = conn = 1", // '=' inside the value
      "pipes.p1.sink.path=/out/p1"))
    assert(conf === Map(
      "source.path" -> "/tmp/log.tsv",
      "pipes.p1.filter.condition" -> "conn = 1",
      "pipes.p1.sink.path" -> "/out/p1"))
    val e = intercept[IllegalArgumentException] {
      PipeMain.parseConfig(Seq("source.path = x", "oops-no-equals"))
    }
    assert(e.getMessage.contains("line 2"),
      "a key-less line names its line number instead of being dropped")
  }

  test("config file → two pipes drain to their own sinks, exit code 0") {
    val log = tempFile("pipemain", ".tsv")
    Files.write(log, Seq(
      ChangeLogSource.renderLine(1, 1, "mutation", "insert", "a", 5, "x"),
      ChangeLogSource.renderLine(2, 2, "mutation", "insert", "b", 6, "y"),
      ChangeLogSource.renderLine(1, 3, "mutation", "insert", "c", 7, "z"))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val out = tempDir("pipemainout").toString
    val confFile = tempFile("pipemain", ".conf")
    Files.write(confFile, s"""# two pipes over one changelog
      |source.path = $log
      |pipes.p1.filter.condition = conn = 1
      |pipes.p1.sink.path = $out/p1/data
      |pipes.p1.sink.checkpoint = $out/p1/chk
      |pipes.p2.filter.condition = conn = 2
      |pipes.p2.sink.path = $out/p2/data
      |pipes.p2.sink.checkpoint = $out/p2/chk
      |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val msgs = scala.collection.mutable.Buffer[String]()
    val code = PipeMain.run(spark, PipeMain.loadConfig(confFile.toString),
      availableNow = true, report = msgs += _)
    assert(code === 0, msgs.mkString("; "))
    def pks(p: String) = spark.read.parquet(s"$out/$p/data")
      .select("pk").collect().map(_.getString(0)).sorted.toSeq
    assert(pks("p1") === Seq("a", "c"))
    assert(pks("p2") === Seq("b"))
    assert(msgs.exists(_.contains("pipe p1 started")))
    assert(msgs.exists(_.contains("pipe p2 drained")))
  }

  test("a bad pipe yields exit code 1 but the sibling still drains") {
    val log = tempFile("pipemainbad", ".tsv")
    Files.write(log,
      (ChangeLogSource.renderLine(1, 1, "mutation", "insert", "a", 5, "x")
        + "\n").getBytes(StandardCharsets.UTF_8))
    val out = tempDir("pipemainbadout").toString
    val code = PipeMain.run(spark, Map(
      "source.path" -> log.toString,
      "pipes.good.sink.path" -> s"$out/good/data",
      "pipes.good.sink.checkpoint" -> s"$out/good/chk",
      "pipes.bad.sink.format" -> "antigravity",
      "pipes.bad.sink.path" -> s"$out/bad/data",
      "pipes.bad.sink.checkpoint" -> s"$out/bad/chk"),
      availableNow = true, report = _ => ())
    assert(code === 1, "assembly failure is a reported nonzero exit")
    assert(spark.read.parquet(s"$out/good/data").count() === 1,
      "surviving pipe drains despite the sibling's failure")
  }
}
