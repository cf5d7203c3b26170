package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.sources.{ChangeLogSource, ChangeLogSourceProvider}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._

class ChangeLogSourceSpec extends SparkSpec {

  private def writeLog(lines: Seq[String]): String = {
    val f = tempFile("changelog", ".tsv")
    Files.write(f, lines.mkString("\n").concat("\n")
      .getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  private val fmt = classOf[ChangeLogSourceProvider].getName

  test("S1: micro-batch source streams the log with line-position offsets") {
    val log = writeLog((1 to 25).map(i =>
      ChangeLogSource.renderLine(1, i, "mutation", "insert", s"pk$i",
        i * 1000L, s"v$i")))
    val dir = tempDir("cls").toString
    val q = spark.readStream.format(fmt)
      .option("path", log).option("maxLinesPerTrigger", "10")
      .load()
      .writeStream.format("memory").queryName("cls_out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("cls_out")
    assert(rows.count() === 25)
    // 10-line cap → at least 3 micro-batches (10+10+5)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "maxLinesPerTrigger bounds each batch")
    assert(rows.agg(min("seq"), max("seq")).collect().head.toSeq ===
      Seq(1L, 25L))
    q.stop()
  }

  test("sparse index: mid-anchor slices seek + skip to the exact line") {
    // granularity 4 with 7-line batches → every batch start lands
    // between anchors, exercising the seek-then-skip path
    val log = writeLog((1 to 25).map(i =>
      ChangeLogSource.renderLine(1, i, "mutation", "insert", s"pk$i",
        i * 1000L, s"v$i")))
    val dir = tempDir("sparse").toString
    val q = spark.readStream.format(fmt)
      .option("path", log).option("maxLinesPerTrigger", "7")
      .option("indexGranularity", "4")
      .load()
      .writeStream.format("memory").queryName("sparse_out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    val rows = spark.table("sparse_out").orderBy("seq").collect()
    assert(rows.length === 25)
    assert(rows.map(_.getAs[Long]("seq")).toSeq === (1L to 25L))
    assert(rows.map(_.getAs[String]("pk")).toSeq ===
      (1 to 25).map(i => s"pk$i"))
  }

  test("rotation: a directory of segments reads as one ordered log") {
    val dir = tempDir("segs")
    def seg(name: String, lines: Seq[String]): Unit =
      Files.write(dir.resolve(name), lines.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    seg("log.000001", (1 to 10).map(i =>
      ChangeLogSource.renderLine(1, i, "mutation", "insert", s"pk$i",
        i * 1000L, s"v$i")))
    seg("log.000002", (11 to 15).map(i =>
      ChangeLogSource.renderLine(1, i, "mutation", "insert", s"pk$i",
        i * 1000L, s"v$i")))
    val out = tempDir("segout").toString
    def drain(): Unit = {
      val q = spark.readStream.format(fmt)
        .option("path", dir.toString).load()
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/chk")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
    }
    drain()
    val rows = spark.read.parquet(s"$out/data")
    assert(rows.count() === 15)
    assert(rows.agg(min("seq"), max("seq")).collect().head.toSeq ===
      Seq(1L, 15L))
    // rotation mid-stream: a NEW segment appears; the resumed stream
    // delivers exactly the new lines once (checkpointed cross-segment
    // offset), no replay of segments 1-2
    seg("log.000003", (16 to 18).map(i =>
      ChangeLogSource.renderLine(1, i, "mutation", "delete", s"pk$i",
        i * 1000L, s"v$i")))
    drain()
    val rows2 = spark.read.parquet(s"$out/data")
    assert(rows2.count() === 18, "new segment delivered exactly once")
    assert(rows2.agg(min("seq"), max("seq")).collect().head.toSeq ===
      Seq(1L, 18L))
    assert(rows2.filter(col("op") === "delete").count() === 3)
  }

  test("rotation: a multi-segment backlog plans one partition per segment") {
    import graft.sources.{ChangeLogMicroBatchStream, ChangeLogOffset}
    val dir = tempDir("segplan")
    (1 to 3).foreach { s =>
      Files.write(dir.resolve(f"log.$s%06d"),
        (1 to 4).map(i => ChangeLogSource.renderLine(1, s * 10 + i,
          "mutation", "insert", "p", 1L, "v"))
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    val stream = new ChangeLogMicroBatchStream(dir.toString, Long.MaxValue)
    val end = stream.latestOffset().asInstanceOf[ChangeLogOffset]
    assert(end.line === 12)
    val parts = stream.planInputPartitions(ChangeLogOffset(0, 0, 0), end)
    assert(parts.length === 3, "parallel replay across segments")
    // a slice inside one segment stays a single serial partition
    val tail = stream.planInputPartitions(ChangeLogOffset(9, 2, -1), end)
    assert(tail.length === 1)
  }

  test("NULL and empty string are distinct on the wire and round-trip") {
    val log = writeLog(Seq(
      ChangeLogSource.renderLine(1, 1, "mutation", "insert", null, 5L, ""),
      ChangeLogSource.renderLine(1, 2, "mutation", "insert", "", 6L, null),
      // a literal "\N" VALUE must escape to \\N and come back as data
      ChangeLogSource.renderLine(1, 3, "mutation", "insert", "\\N", 7L,
        "x")))
    val dir = tempDir("nulls").toString
    val q = spark.readStream.format(fmt).option("path", log).load()
      .withColumn("value", col("payload").getItem("value"))
      .writeStream.format("memory").queryName("nulls_out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    val rows = spark.table("nulls_out").orderBy("seq").collect()
    assert(rows(0).getAs[String]("pk") === null)
    assert(rows(0).getAs[String]("value") === "")
    assert(rows(1).getAs[String]("pk") === "")
    assert(rows(1).getAs[String]("value") === null)
    assert(rows(2).getAs[String]("pk") === "\\N",
      "escaped literal backslash-N is data, not the sentinel")
  }

  test("fields with tabs/newlines/backslashes survive the TSV frame") {
    val log = writeLog(Seq(
      ChangeLogSource.renderLine(1, 1, "mutation", "insert",
        "pk\twith\ttabs", 5L, "line1\nline2"),
      ChangeLogSource.renderLine(1, 2, "mutation", "insert",
        "back\\slash", 6L, "v\r\n")))
    val dir = tempDir("esc").toString
    val q = spark.readStream.format(fmt).option("path", log).load()
      .withColumn("value", col("payload").getItem("value"))
      .writeStream.format("memory").queryName("esc_out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    val rows = spark.table("esc_out").orderBy("seq").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("pk") === "pk\twith\ttabs")
    assert(rows(0).getAs[String]("value") === "line1\nline2")
    assert(rows(1).getAs[String]("pk") === "back\\slash")
    assert(rows(1).getAs[String]("value") === "v\r\n")
  }

  test("CRLF-terminated lines read like LF-terminated ones") {
    val log = writeLog(Seq(
      ChangeLogSource.renderLine(1, 1, "begin", null, null, 0L, null) + "\r",
      ChangeLogSource.renderLine(1, 2, "mutation", "insert", "a", 5L, "x") + "\r",
      ChangeLogSource.renderLine(1, 3, "commit", null, null, 9L, null) + "\r"))
    val dir = tempDir("crlf").toString
    val q = spark.readStream.format(fmt).option("path", log).load()
      .withColumn("value", col("payload").getItem("value"))
      .writeStream.format("memory").queryName("crlf_out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    val rows = spark.table("crlf_out").collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("value") === "x")
    assert(rows(0).getAs[Long]("commitTsUs") === 9L)
  }

  test("S1+T5: restart resumes from the checkpointed position, no dupes") {
    val lines = (1 to 10).map(i =>
      ChangeLogSource.renderLine(2, i, "mutation", "update", s"pk$i",
        i * 10L, ""))
    val log = writeLog(lines)
    val dir = tempDir("cls2").toString
    def run(): Unit = {
      val q = spark.readStream.format(fmt).option("path", log).load()
        .writeStream.format("parquet")
        .option("path", s"$dir/data")
        .option("checkpointLocation", s"$dir/chk")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
    }
    run()
    // append more events (the binlog grows), then restart
    Files.write(Paths.get(log),
      ((11 to 15).map(i => ChangeLogSource.renderLine(2, i, "mutation",
        "update", s"pk$i", i * 10L, "")).mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)
    run()
    val out = spark.read.parquet(s"$dir/data")
    assert(out.count() === 15, "each line delivered exactly once")
    assert(out.select("seq").distinct().count() === 15)
  }

  test("S1→T1: source composes with the transaction pipeline") {
    val sparkS = spark
    import sparkS.implicits._
    import graft.streaming.TxPipeline
    val log = writeLog(Seq(
      ChangeLogSource.renderLine(1, 1, "begin", "", "", 0L, ""),
      ChangeLogSource.renderLine(1, 2, "mutation", "insert", "pk1", 5L, "a"),
      ChangeLogSource.renderLine(1, 3, "commit", "", "", 99L, ""),
      ChangeLogSource.renderLine(1, 4, "begin", "", "", 0L, ""),
      ChangeLogSource.renderLine(1, 5, "mutation", "insert", "pk2", 6L, "b"),
      ChangeLogSource.renderLine(1, 6, "rollback", "", "", 0L, "")))
    val q = spark.readStream.format(fmt).option("path", log).load()
      .as[TxPipeline.TxMutation]
      .writeStream.format("memory").queryName("cls_tx")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    val out = spark.table("cls_tx").as[TxPipeline.TxMutation].collect()
    assert(out.length === 1, "committed tx only; rolled-back dropped")
    assert(out.head.pk === "pk1" && out.head.commitTsUs === 99L)
  }

  test("a transaction open across segments and capped batches is " +
    "re-read from its BEGIN, wherever the batch starts") {
    val dir = tempDir("lowwater")
    def seg(name: String, lines: Seq[String]): Unit =
      Files.write(dir.resolve(name), lines.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    // conn 1's tx opens in segment 1 and commits in segment 2, around
    // conn 2's short transactions and non-tx mutations
    seg("log.1", Seq(
      ChangeLogSource.renderLine(1, 1, "begin", null, null, 0L, null),
      ChangeLogSource.renderLine(1, 2, "mutation", "insert", "a", 1L, "1"),
      ChangeLogSource.renderLine(2, 3, "begin", null, null, 0L, null),
      ChangeLogSource.renderLine(2, 4, "mutation", "insert", "b", 2L, "2"),
      ChangeLogSource.renderLine(2, 5, "commit", null, null, 50L, null)))
    seg("log.2", Seq(
      ChangeLogSource.renderLine(3, 6, "mutation", "delete", "c", 3L, null),
      ChangeLogSource.renderLine(1, 7, "mutation", "update", "a", 4L, "3"),
      ChangeLogSource.renderLine(2, 8, "mutation", "insert", "d", 5L, "4"),
      ChangeLogSource.renderLine(1, 9, "commit", null, null, 90L, null)))
    Seq(("1", "4096"), ("2", "1"), ("3", "2"), ("100", "4096")).foreach {
      case (cap, g) =>
        val out = tempDir("lowwaterout").toString
        val q = spark.readStream.format(fmt).option("path", dir.toString)
          .option("maxLinesPerTrigger", cap).option("indexGranularity", g)
          .load()
          .writeStream.format("parquet").option("path", s"$out/data")
          .option("checkpointLocation", s"$out/chk")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(60000); q.stop()
        val rows = spark.read.parquet(s"$out/data")
          .select("seq", "txid", "commitTsUs").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
        assert(rows.toSeq === Seq((2L, "tx-1-1", 90L), (4L, "tx-2-3", 50L),
          (6L, "tx-3-6", 3L), (7L, "tx-1-1", 90L), (8L, "tx-2-8", 5L)),
          s"cap $cap, granularity $g")
    }
  }

  test("source metrics: lag, re-read lines and discards of the latest " +
    "batch, under pinned keys") {
    val log = writeLog(Seq(
      ChangeLogSource.renderLine(1, 1, "begin", null, null, 0L, null),
      ChangeLogSource.renderLine(1, 2, "mutation", "insert", "a", 1L, "1"),
      ChangeLogSource.renderLine(2, 3, "begin", null, null, 0L, null),
      ChangeLogSource.renderLine(2, 4, "mutation", "insert", "b", 2L, "2"),
      ChangeLogSource.renderLine(2, 5, "rollback", null, null, 0L, null),
      ChangeLogSource.renderLine(1, 6, "commit", null, null, 9L, null)))
    val dir = tempDir("clsmetrics").toString
    val q = spark.readStream.format(fmt).option("path", log)
      .option("maxLinesPerTrigger", "3").load()
      .writeStream.format("noop")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    import scala.jdk.CollectionConverters._
    val ms = q.recentProgress
      .filter(p => p.sources(0).endOffset != p.sources(0).startOffset)
      .map(_.sources(0).metrics.asScala.toMap)
    assert(ms.length === 2)
    assert(ms.forall(_.keySet === ChangeLogSource.MetricKeys.toSet))
    assert(ChangeLogSource.MetricKeys === Seq("linesBehind", "bytesBehind",
      "linesReRead", "rollbackDiscards", "resetDiscards", "abandonedDiscards"))
    val lineBytes = Files.readAllLines(Paths.get(log)).asScala
      .map(_.getBytes(StandardCharsets.UTF_8).length + 1L)
    // batch 1 = lines [0, 3): three lines behind the end
    assert(ms(0)("linesBehind") === "3")
    assert(ms(0)("bytesBehind") === lineBytes.drop(3).sum.toString)
    assert(ms(0)("linesReRead") === "0")
    // batch 2 = lines [3, 6): re-read from conn 1's BEGIN at line 0,
    // one rolled-back mutation, caught up with the log end
    assert(ms(1)("linesBehind") === "0" && ms(1)("bytesBehind") === "0")
    assert(ms(1)("linesReRead") === "3")
    assert(ms(1)("rollbackDiscards") === "1")
    assert(ms(1)("resetDiscards") === "0" && ms(1)("abandonedDiscards") === "0")
  }
}
