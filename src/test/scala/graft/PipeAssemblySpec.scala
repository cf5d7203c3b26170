package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.sources.ChangeLogSource
import graft.streaming.{BinlogPosition, FilePositionRepository, PipeAssembly}
import org.apache.spark.sql.functions._

class PipeAssemblySpec extends SparkSpec {

  test("T6: file position repo round-trips and elides unchanged writes") {
    val dir = tempDir("posrepo").toString
    val repo = new FilePositionRepository(dir)
    assert(repo.load("c1").isEmpty)
    repo.save("c1", BinlogPosition("binlog.000001", 120))
    assert(repo.load("c1") === Some(BinlogPosition("binlog.000001", 120)))
    repo.save("c1", BinlogPosition("binlog.000001", 120)) // unchanged
    assert(repo.writes === 1, "unchanged position save is elided")
    repo.save("c1", BinlogPosition("binlog.000002", 4))
    assert(repo.writes === 2)
    assert(repo.load("c1") === Some(BinlogPosition("binlog.000002", 4)))
    // corrupted file → None, not a crash
    Files.write(java.nio.file.Paths.get(dir, "binlogpos-c2.pos"),
      "garbage".getBytes(StandardCharsets.UTF_8))
    assert(repo.load("c2").isEmpty)
  }

  test("T6: table position repo — shared store, atomic, write-elided") {
    import graft.streaming.TablePositionRepository
    val dir = tempDir("postable").toString
    val repo = new TablePositionRepository(s"$dir/positions.tsv")
    assert(repo.load("c1").isEmpty)
    repo.save("c1", BinlogPosition("binlog.000001", 120))
    repo.save("c2", BinlogPosition("binlog.000009", 7))
    assert(repo.load("c1") === Some(BinlogPosition("binlog.000001", 120)))
    assert(repo.load("c2") === Some(BinlogPosition("binlog.000009", 7)))
    repo.save("c1", BinlogPosition("binlog.000001", 120)) // unchanged
    assert(repo.writes === 2, "unchanged position save is elided")
    repo.save("c1", BinlogPosition("binlog.000002", 4))
    assert(repo.load("c1") === Some(BinlogPosition("binlog.000002", 4)))
    assert(repo.load("c2") === Some(BinlogPosition("binlog.000009", 7)),
      "other consumers' rows survive a save")
    // a second repo instance over the same table sees the saved state
    val repo2 = new TablePositionRepository(s"$dir/positions.tsv")
    assert(repo2.load("c1") === Some(BinlogPosition("binlog.000002", 4)))
  }

  test("kafka sink: topic template, key and framed-Avro value wiring") {
    val sparkS = spark
    import sparkS.implicits._
    import graft.avro.SchemaRegistry
    import graft.functions.Envelope
    import graft.streaming.{CdcStream, TxPipeline}
    import org.apache.spark.sql.types._
    val registry = new SchemaRegistry
    val ms = Seq(
      TxPipeline.TxMutation(1, 2, "tx-1-1", "insert", "a", 77,
        Map("value" -> "x")),
      TxPipeline.TxMutation(2, 3, "tx-2-3", "update", "b", 9,
        Map("value" -> "y")),
      TxPipeline.TxMutation(3, 5, "tx-3-5", "delete", "keep", 8, Map()),
      TxPipeline.TxMutation(4, 6, "tx-4-6", "", "c", 10, Map()))
      .toDS()
    val frame = CdcStream.kafkaFrame(ms, registry,
      "changelog_${conn}_generic")
    // the Kafka writer contract: exactly (topic string, key, value binary)
    assert(frame.schema.fieldNames.toSeq === Seq("topic", "key", "value"))
    assert(frame.schema("value").dataType === BinaryType)
    val rows = frame.orderBy("topic").collect()
    assert(rows.map(_.getString(0)).toSeq === (1 to 4).map(c =>
      s"changelog_${c}_generic"), "topic template substitutes column values")
    assert(rows.map(_.getString(1)).toSeq === Seq("a", "b", "keep", "c"))
    // value frame: MAGIC|MTYPE|SCHEMA_ID decode + Avro payload roundtrip
    val schemaId = registry
      .idOf("generic_txmutation", CdcStream.txMutationSchemaJson).get
    val st = StructType(Seq(
      StructField("conn", LongType), StructField("seq", LongType),
      StructField("txid", StringType), StructField("op", StringType),
      StructField("pk", StringType), StructField("commitTsUs", LongType),
      StructField("payload", MapType(StringType, StringType))))
    val decoded = frame
      .withColumn("mtype", Envelope.sliceMtype(col("value")))
      .withColumn("sid", Envelope.sliceSchemaId(col("value")))
      .withColumn("d", Envelope.open(col("value"),
        Seq(schemaId -> CdcStream.txMutationSchemaJson),
        CdcStream.txMutationSchemaJson, st, lenient = false))
      .select("mtype", "sid", "d.pk", "d.commitTsUs", "d.op")
      .orderBy("pk").collect()
    assert(decoded.map(_.getInt(0)).toSeq === Seq(1, 2, 0, 3),
      "insert=1 update=2 delete=3, any other op 0")
    assert(decoded.forall(_.getInt(1) == schemaId))
    assert(decoded.map(_.getLong(3)).toSeq === Seq(77L, 9L, 10L, 8L))
    // and the assembled writer is a kafka-format DataStreamWriter
    val log = tempFile("kpipe", ".tsv")
    Files.write(log, ChangeLogSource.renderLine(1, 1, "mutation",
      "insert", "p", 1, "v").concat("\n")
      .getBytes(StandardCharsets.UTF_8))
    val w = PipeAssembly.kafkaWriter(spark, Map(
      "source.path" -> log.toString,
      "sink.checkpoint" -> tempDir("kchk").toString),
      registry)
    assert(w != null) // wiring builds without a broker; start() needs one
  }

  test("E2: config map assembles the full pipe end-to-end") {
    val log = tempFile("pipe", ".tsv")
    Files.write(log, Seq(
      ChangeLogSource.renderLine(1, 1, "begin", "", "", 0, ""),
      ChangeLogSource.renderLine(1, 2, "mutation", "insert", "a", 5, "x"),
      ChangeLogSource.renderLine(1, 3, "commit", "", "", 77, ""),
      ChangeLogSource.renderLine(2, 4, "mutation", "insert", "skipme", 9, "y"),
      ChangeLogSource.renderLine(3, 5, "mutation", "delete", "keep", 8, ""))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val out = tempDir("pipeout").toString
    val q = PipeAssembly.start(spark, Map(
      "source.path" -> log.toString,
      "filter.condition" -> "conn <> 2", // F1 skip filter
      "sink.path" -> s"$out/data",
      "sink.checkpoint" -> s"$out/chk"), availableNow = true)
    q.awaitTermination(60000); q.stop()
    val rows = spark.read.parquet(s"$out/data")
    val pks = rows.select("pk").collect().map(_.getString(0)).sorted.toSeq
    assert(pks === Seq("a", "keep"), "tx committed + non-tx kept, conn 2 skipped")
    assert(rows.filter(col("pk") === "a").collect().head
      .getAs[Long]("commitTsUs") === 77L, "commit-ts rewrite applied")
  }

  test("low-latency profile: knobs land in the effective config, " +
    "explicit keys win, the pipe runs, unknown profile rejected") {
    // the packaged FRONTIER.json knobs (RocksDB + changelog
    // checkpointing): admission cap, zero trigger interval, 2-way
    // state, kafka-only async progress
    val eff = PipeAssembly.effectiveConfig(Map("profile" -> "low-latency"))
    assert(eff("source.maxLinesPerTrigger") === "2048")
    assert(eff("sink.triggerSeconds") === "0")
    assert(eff("session.shufflePartitions") === "2")
    assert(eff("sink.kafkaAsyncProgress") === "true")
    // explicit config beats the profile, profile beats defaults
    val over = PipeAssembly.effectiveConfig(Map(
      "profile" -> "low-latency", "source.maxLinesPerTrigger" -> "128"))
    assert(over("source.maxLinesPerTrigger") === "128")
    assert(over("sink.triggerSeconds") === "0")
    intercept[IllegalArgumentException] {
      PipeAssembly.effectiveConfig(Map("profile" -> "turbo"))
    }
    // the profiled pipe actually drains with the profile's 2-way state
    // (the materialize sink's latest-image state; the tx pipe has
    // none), and the shared session keeps its own partition count
    val log = tempFile("pipelat", ".tsv")
    Files.write(log, Seq(
      ChangeLogSource.renderLine(1, 1, "begin", "", "", 0, ""),
      ChangeLogSource.renderLine(1, 2, "mutation", "insert", "a", 5, "x"),
      ChangeLogSource.renderLine(1, 3, "commit", "", "", 77, ""))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val out = tempDir("pipelatout").toString
    withSessionParts {
      val q = PipeAssembly.start(spark, Map(
        "profile" -> "low-latency",
        "source.path" -> log.toString,
        "sink.format" -> "materialize",
        "sink.path" -> s"$out/data",
        "sink.checkpoint" -> s"$out/chk"), availableNow = true)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "8",
        "the pipe's state width must not leak into the shared session")
      q.awaitTermination(60000); q.stop()
      assert(q.lastProgress.stateOperators.head.numShufflePartitions === 2,
        "profile must size the query's state before its first batch")
    }
    val pks = spark.read.parquet(s"$out/data")
      .select("pk").collect().map(_.getString(0)).toSeq
    assert(pks === Seq("a"))
  }

  /** Runs `body` with the session's shuffle partitions at the suite
    * default of 8, so a width leaked by an earlier test cannot hide a
    * leak here. */
  private def withSessionParts[T](body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try body finally spark.conf.set(key, prev)
  }

  test("multi-pipe runner: a pipe's state width stays in its own query") {
    val log = tempFile("multipipewidth", ".tsv")
    Files.write(log, Seq(
      ChangeLogSource.renderLine(1, 1, "begin", "", "", 0, ""),
      ChangeLogSource.renderLine(1, 2, "mutation", "insert", "a", 5, "x"),
      ChangeLogSource.renderLine(1, 3, "commit", "", "", 77, ""))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val out = tempDir("multipipewidth").toString
    withSessionParts {
      // pipe a sorts first, so b starts after a has set its width
      val qs = PipeAssembly.startAll(spark, Map(
        "source.path" -> log.toString,
        "sink.format" -> "materialize",
        "pipes.a.session.shufflePartitions" -> "2",
        "pipes.a.sink.path" -> s"$out/a/data",
        "pipes.a.sink.checkpoint" -> s"$out/a/chk",
        "pipes.b.sink.path" -> s"$out/b/data",
        "pipes.b.sink.checkpoint" -> s"$out/b/chk"), availableNow = true)
      val width = qs.map {
        case (name, Right(q)) =>
          q.awaitTermination(60000); q.stop()
          name -> q.lastProgress.stateOperators.head.numShufflePartitions
        case (_, Left(e)) => fail(e)
      }
      assert(width("a") === 2)
      assert(width("b") === 8,
        "a pipe without the key runs with the session default")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "8")
    }
  }

  test("multi-pipe runner: N pipes from one config, one source, " +
    "independent positions and restarts") {
    // reference PipeRunner.scala:17-56,62-93 — N pipes wired from ONE
    // config, running concurrently, each with its own position repo
    val log = tempFile("multipipe", ".tsv")
    def append(lines: Seq[String]): Unit =
      Files.write(log, lines.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
    Files.write(log, Seq(
      ChangeLogSource.renderLine(1, 1, "mutation", "insert", "a", 5, "x"),
      ChangeLogSource.renderLine(2, 2, "mutation", "insert", "b", 6, "y"),
      ChangeLogSource.renderLine(1, 3, "mutation", "delete", "c", 7, ""))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val out = tempDir("multipipe").toString
    // shared keys inherited, per-pipe keys win
    val flat = Map(
      "source.path" -> log.toString,
      "pipes.p1.filter.condition" -> "conn = 1",
      "pipes.p1.sink.path" -> s"$out/p1/data",
      "pipes.p1.sink.checkpoint" -> s"$out/p1/chk",
      "pipes.p2.filter.condition" -> "conn = 2",
      "pipes.p2.sink.path" -> s"$out/p2/data",
      "pipes.p2.sink.checkpoint" -> s"$out/p2/chk")
    val confs = PipeAssembly.pipeConfigs(flat)
    assert(confs.keySet === Set("p1", "p2"))
    assert(confs("p1")("source.path") === log.toString,
      "shared keys are inherited by every pipe")
    assert(confs("p1")("filter.condition") === "conn = 1")
    // both pipes start CONCURRENTLY, then drain
    val qs = PipeAssembly.startAll(spark, flat, availableNow = true)
    assert(qs.keySet === Set("p1", "p2"))
    assert(qs.values.forall(_.isRight))
    qs.values.foreach {
      case Right(q) => q.awaitTermination(60000); q.stop()
      case Left(e)  => fail(e)
    }
    def pks(p: String) = spark.read.parquet(s"$out/$p/data")
      .select("pk").collect().map(_.getString(0)).sorted.toSeq
    assert(pks("p1") === Seq("a", "c"), "pipe 1 sees only conn 1")
    assert(pks("p2") === Seq("b"), "pipe 2 sees only conn 2")
    // log advances; restart ONLY p1 — it resumes from ITS position,
    // p2's checkpoint/output untouched
    append(Seq(
      ChangeLogSource.renderLine(1, 4, "mutation", "insert", "d", 8, "z"),
      ChangeLogSource.renderLine(2, 5, "mutation", "insert", "e", 9, "w")))
    val q1 = PipeAssembly.start(spark, confs("p1"), availableNow = true)
    q1.awaitTermination(60000); q1.stop()
    assert(pks("p1") === Seq("a", "c", "d"),
      "restart resumes from the pipe's own position (no reprocessing)")
    assert(pks("p2") === Seq("b"), "sibling pipe state untouched")
    // the other pipe restarts independently and catches up
    val q2 = PipeAssembly.start(spark, confs("p2"), availableNow = true)
    q2.awaitTermination(60000); q2.stop()
    assert(pks("p2") === Seq("b", "e"))
  }

  test("multi-pipe runner: one pipe's assembly failure doesn't stall " +
    "the others") {
    val log = tempFile("multipipefail", ".tsv")
    Files.write(log,
      (ChangeLogSource.renderLine(1, 1, "mutation", "insert", "a", 5, "x")
        + "\n").getBytes(StandardCharsets.UTF_8))
    val out = tempDir("multipipefail").toString
    val qs = PipeAssembly.startAll(spark, Map(
      "source.path" -> log.toString,
      "pipes.good.sink.path" -> s"$out/good/data",
      "pipes.good.sink.checkpoint" -> s"$out/good/chk",
      "pipes.bad.sink.format" -> "antigravity",
      "pipes.bad.sink.path" -> s"$out/bad/data",
      "pipes.bad.sink.checkpoint" -> s"$out/bad/chk"),
      availableNow = true)
    assert(qs("bad").isLeft, "unknown sink format surfaces as Left")
    val good = qs("good").toOption.get
    good.awaitTermination(60000); good.stop()
    assert(spark.read.parquet(s"$out/good/data").count() === 1,
      "surviving pipe drains despite the sibling's failure")
  }

  test("the tx pipe has no stateful operator on the parquet and kafka " +
    "sinks") {
    val log = tempFile("pipestateless", ".tsv")
    Files.write(log, Seq(
      ChangeLogSource.renderLine(1, 1, "begin", "", "", 0, ""),
      ChangeLogSource.renderLine(1, 2, "mutation", "insert", "a", 5, "x"),
      ChangeLogSource.renderLine(1, 3, "commit", "", "", 77, ""))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val out = tempDir("pipestateless").toString
    val parquet = PipeAssembly.start(spark, Map(
      "source.path" -> log.toString,
      "sink.path" -> s"$out/p/data",
      "sink.checkpoint" -> s"$out/p/chk"), availableNow = true)
    // the kafka writer with only its format rerouted, as a broker-less
    // drain runs it
    val kafka = PipeAssembly.kafkaWriter(spark, Map(
      "source.path" -> log.toString,
      "sink.checkpoint" -> s"$out/k/chk"),
      new graft.avro.SchemaRegistry, availableNow = true)
      .format("parquet").option("path", s"$out/k/data").start()
    Seq(parquet, kafka).foreach { q =>
      q.awaitTermination(60000); q.stop()
      assert(q.lastProgress.numInputRows === 1)
      assert(q.lastProgress.stateOperators.isEmpty)
    }
  }

  test("filter.condition applies to committed mutations: a predicate " +
    "that drops BEGIN/COMMIT no longer unstamps a transaction") {
    val log = tempFile("pipefilter", ".tsv")
    Files.write(log, Seq(
      ChangeLogSource.renderLine(1, 1, "begin", null, null, 0, null),
      ChangeLogSource.renderLine(1, 2, "mutation", "insert", "a", 5, "x"),
      ChangeLogSource.renderLine(1, 3, "mutation", "update", "b", 6, "y"),
      ChangeLogSource.renderLine(1, 4, "commit", null, null, 77, null),
      ChangeLogSource.renderLine(2, 5, "mutation", "insert", "c", 8, "z"))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    def run(filter: (String, String)*): Seq[(String, String, Long)] = {
      val out = tempDir("pipefilterout").toString
      val q = PipeAssembly.start(spark, Map(
        "source.path" -> log.toString,
        "sink.path" -> s"$out/data",
        "sink.checkpoint" -> s"$out/chk") ++ filter, availableNow = true)
      q.awaitTermination(60000); q.stop()
      spark.read.parquet(s"$out/data").select("pk", "txid", "commitTsUs")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    }
    // before, the predicate dropped BEGIN and COMMIT (op NULL), so "a"
    // left as a non-tx row (txid tx-1-2, its own ts 5)
    assert(run("filter.condition" -> "op = 'insert'") ===
      Seq(("a", "tx-1-1", 77L), ("c", "tx-2-5", 8L)))
    // the event columns still resolve: kind is always 'mutation',
    // ts_us is the commit timestamp, value the payload value
    assert(run("filter.condition" -> ("kind = 'mutation' AND ts_us = 77 " +
      "AND value = 'y'")) === Seq(("b", "tx-1-1", 77L)))
    assert(run("filter.scalaCondition" ->
      ("(conn: Long, kind: String, op: String, pk: String) => " +
        "kind == \"mutation\" && op == \"insert\"")) ===
      Seq(("a", "tx-1-1", 77L), ("c", "tx-2-5", 8L)))
  }

  test("tx.timeoutMs is rejected: the bound is tx.maxOpenLines") {
    assert(PipeAssembly.effectiveConfig(Map.empty)("tx.maxOpenLines") ===
      Long.MaxValue.toString, "unbounded by default")
    intercept[IllegalArgumentException] {
      PipeAssembly.effectiveConfig(Map("tx.timeoutMs" -> "1000"))
    }
  }

  test("E2: materialize sink maintains the latest image per pk") {
    val log = tempFile("pipemat", ".tsv")
    Files.write(log, Seq(
      ChangeLogSource.renderLine(1, 1, "mutation", "insert", "a", 10, "1.5"),
      ChangeLogSource.renderLine(1, 2, "mutation", "update", "a", 20, "2.5"),
      ChangeLogSource.renderLine(1, 3, "mutation", "insert", "b", 15, "7.0"),
      ChangeLogSource.renderLine(1, 4, "mutation", "delete", "b", 30, ""))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val out = tempDir("pipemat").toString
    val q = PipeAssembly.start(spark, Map(
      "source.path" -> log.toString,
      "sink.format" -> "materialize",
      "sink.path" -> s"$out/view",
      "sink.checkpoint" -> s"$out/chk"), availableNow = true)
    q.awaitTermination(60000); q.stop()
    // the journal's last record per pk is the current image
    val view = spark.read.parquet(s"$out/view").collect()
      .groupBy(_.getAs[String]("pk"))
      .map { case (pk, rs) =>
        pk -> rs.maxBy(r => (r.getAs[Long]("tsUs"), r.getAs[Long]("seq")))
      }
    assert(view("a").getAs[Double]("value") === 2.5)
    assert(!view("a").getAs[Boolean]("isDeleted"))
    assert(view("b").getAs[Boolean]("isDeleted"),
      "delete surfaces as a tombstone")
    // in-batch coalescing: one emission per pk for this single batch
    assert(spark.read.parquet(s"$out/view").count() === 2)
  }
}
