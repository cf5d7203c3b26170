package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import graft.sources.ChangeLogSource
import graft.streaming.{PipeAssembly, TxPipeline}
import graft.streaming.TxPipeline.{ChangeEvent, TxMutation, emptyState}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

class TxPipelineSpec extends SparkSpec {

  def ev(seq: Long, kind: String, op: String = "", ts: Long = 0,
      conn: Long = 1): ChangeEvent =
    ChangeEvent(conn, seq, kind, op, s"pk$seq", ts, Map("v" -> seq.toString))

  /** `ev` as a change-log line. */
  def line(seq: Long, kind: String, op: String = "", ts: Long = 0,
      conn: Long = 1): String =
    ChangeLogSource.renderLine(conn, seq, kind, op, s"pk$seq", ts,
      seq.toString)

  /** Append `lines` to the log at `log`, newline-terminated. */
  def append(log: Path, lines: String*): Unit =
    Files.write(log, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)

  /** The source's committed mutations over `log`. */
  def committed(log: Path): org.apache.spark.sql.Dataset[TxMutation] =
    PipeAssembly.events(spark, Map("source.path" -> log.toString))

  /** Sum of one source metric over the batches that read log lines. */
  def metric(q: StreamingQuery, key: String): Long =
    q.recentProgress
      .filter(p => p.sources(0).endOffset != p.sources(0).startOffset)
      .map(_.sources(0).metrics.get(key).toLong).sum

  test("T1/T2: commit flushes buffer with commit-timestamp rewrite") {
    val (st, out) = TxPipeline.advance(1, Seq(
      ev(1, "begin"),
      ev(2, "mutation", "insert", ts = 100),
      ev(3, "mutation", "update", ts = 200),
      ev(4, "commit", ts = 999)), emptyState)
    assert(!st.open)
    assert(out.map(_.op) === Seq("insert", "update"))
    assert(out.forall(_.commitTsUs == 999), "T2 rewrite")
    assert(out.forall(_.txid == "tx-1-1"), "T3 deterministic txid")
  }

  test("T1: rollback discards the buffer") {
    val (st, out) = TxPipeline.advance(1, Seq(
      ev(1, "begin"), ev(2, "mutation", "insert", 100),
      ev(3, "rollback")), emptyState)
    assert(out.isEmpty && !st.open)
  }

  test("T4: empty commit emits nothing and resets cleanly") {
    val (st, out) = TxPipeline.advance(1,
      Seq(ev(1, "begin"), ev(2, "commit", ts = 5)), emptyState)
    assert(out.isEmpty && !st.open)
  }

  test("non-tx mutations pass straight through with own-position txid") {
    val (_, out) = TxPipeline.advance(1,
      Seq(ev(7, "mutation", "delete", ts = 70)), emptyState)
    assert(out === Seq(TxMutation(1, 7, "tx-1-7", "delete", "pk7", 70,
      Map("v" -> "7"))))
  }

  test("transaction spanning micro-batches survives in state") {
    val (st1, out1) = TxPipeline.advance(1,
      Seq(ev(1, "begin"), ev(2, "mutation", "insert", 100)), emptyState)
    assert(out1.isEmpty && st1.open)
    val (st2, out2) = TxPipeline.advance(1,
      Seq(ev(3, "mutation", "update", 200), ev(4, "commit", ts = 300)), st1)
    assert(!st2.open)
    assert(out2.map(_.seq) === Seq(2, 3))
    assert(out2.forall(_.commitTsUs == 300))
  }

  test("out-of-order arrival within a batch is healed by seq sort") {
    val (_, out) = TxPipeline.advance(1, Seq(
      ev(4, "commit", ts = 9), ev(2, "mutation", "insert", 1),
      ev(1, "begin"), ev(3, "mutation", "update", 2)), emptyState)
    assert(out.map(_.seq) === Seq(2, 3))
  }

  test("streaming end-to-end: tx spanning two micro-batches, rollback tx dropped") {
    val sparkS = spark
    import sparkS.implicits._
    val log = tempFile("txlog", ".tsv")
    val q = committed(log)
      .writeStream.format("memory").queryName("txout")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: open tx on conn 1 + a full rolled-back tx on conn 2
      append(log,
        line(1, "begin"), line(2, "mutation", "insert", 100),
        line(1, "begin", conn = 2), line(2, "mutation", "insert", 100, conn = 2),
        line(3, "rollback", conn = 2))
      q.processAllAvailable()
      assert(spark.table("txout").count() === 0, "nothing committed yet")
      // batch 2: commit conn 1's tx
      append(log, line(3, "mutation", "update", 200), line(4, "commit", ts = 500))
      q.processAllAvailable()
      val rows = spark.table("txout").as[TxMutation].collect().sortBy(_.seq)
      assert(rows.map(_.seq).toSeq === Seq(2, 3))
      assert(rows.forall(r => r.conn == 1 && r.commitTsUs == 500 &&
        r.txid == "tx-1-1"))
    } finally q.stop()
  }

  test("batched mode: one TxBatch per tx, singleton for non-tx mutations") {
    val (st, out) = TxPipeline.advanceBatched(1, Seq(
      ev(1, "begin"), ev(2, "mutation", "insert", 100),
      ev(3, "mutation", "update", 200), ev(4, "commit", ts = 999),
      ev(5, "mutation", "delete", 300), // non-tx → singleton batch
      ev(6, "begin"), ev(7, "mutation", "insert", 400),
      ev(8, "commit", ts = 1000)), emptyState)
    assert(!st.open)
    assert(out.map(_.txid) === Seq("tx-1-1", "tx-1-5", "tx-1-6"))
    assert(out.head.mutations.map(_.seq) === Seq(2, 3))
    assert(out.head.commitTsUs === 999)
    assert(out(1).mutations.map(_.seq) === Seq(5))
    assert(out(2).mutations.map(_.seq) === Seq(7))
  }

  test("batched streaming end-to-end: tx spanning micro-batches flushes as one unit") {
    val sparkS = spark
    import sparkS.implicits._
    val log = tempFile("txbatchlog", ".tsv")
    val q = TxPipeline.batched(committed(log))
      .writeStream.format("memory").queryName("txbatchout")
      .outputMode(OutputMode.Append).start()
    try {
      append(log, line(1, "begin"), line(2, "mutation", "insert", 100))
      q.processAllAvailable()
      assert(spark.table("txbatchout").count() === 0)
      append(log, line(3, "mutation", "update", 200),
        line(4, "commit", ts = 500),
        // rollback tx on conn 2 → counted, not emitted
        line(1, "begin", conn = 2), line(2, "mutation", "insert", 1, conn = 2),
        line(3, "rollback", conn = 2))
      q.processAllAvailable()
      val batches = spark.table("txbatchout")
        .as[TxPipeline.TxBatch].collect()
      assert(batches.length === 1)
      assert(batches.head.txid === "tx-1-1")
      assert(batches.head.mutations.map(_.seq) === Seq(2, 3))
      assert(batches.head.mutations.forall(_.commitTsUs == 500))
      assert(metric(q, "rollbackDiscards") === 1)
    } finally q.stop()
  }

  test("reset discards are counted (BEGIN while a tx is open)") {
    val events = Seq(
      ev(1, "begin"), ev(2, "mutation", "insert", 100),
      ev(3, "mutation", "update", 200),
      ev(4, "begin"), // drops the 2 buffered mutations
      ev(5, "mutation", "insert", 300), ev(6, "commit", ts = 400))
    val (st, out) = TxPipeline.advance(1, events, emptyState)
    assert(!st.open)
    assert(out.map(_.seq) === Seq(5))
    // the source counts the same discard, in the batch's metrics
    val log = tempFile("txreset", ".tsv")
    append(log, events.map(e => line(e.seq, e.kind, e.op, e.tsUs)): _*)
    val q = committed(log).writeStream.format("noop")
      .option("checkpointLocation", tempDir("txresetchk").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    assert(q.recentProgress.map(_.numInputRows).sum === 1)
    assert(metric(q, "resetDiscards") === 2)
  }

  test("abandoned transactions are bounded in log lines, not processing " +
    "time") {
    // a tx may commit at most maxOpenLines lines after its BEGIN
    val tx = Seq(ev(1, "begin"), ev(2, "mutation", "insert"),
      ev(3, "mutation", "update"), ev(4, "commit", ts = 9))
    assert(TxPipeline.advance(1, tx, emptyState, maxOpenLines = 3)._2
      .map(_.seq) === Seq(2, 3))
    assert(TxPipeline.advance(1, tx, emptyState, maxOpenLines = 2)._2.isEmpty)
    // past the bound the connection stays inside the abandoned tx: its
    // later mutations never surface as non-tx rows
    val (st, late) = TxPipeline.advance(1,
      Seq(ev(1, "begin"), ev(5, "mutation", "insert")), emptyState, 2)
    assert(late.isEmpty && st.open)

    // through the source: conn 1's tx spans 5 lines (discarded at
    // maxOpenLines 3), its next one 2 (kept); conn 2's row is non-tx
    val lines = Seq(line(1, "begin"), line(2, "mutation", "insert"),
      line(3, "mutation", "insert", conn = 2), line(4, "mutation", "update"),
      line(5, "mutation", "delete"), line(6, "commit", ts = 60),
      line(7, "begin"), line(8, "mutation", "insert"),
      line(9, "commit", ts = 90))
    def drain(cap: Long, granularity: Int, pauseMs: Long)
        : (Seq[(Long, String)], Long) = {
      val log = tempFile("txbound", ".tsv")
      val q = spark.readStream
        .format(classOf[graft.sources.ChangeLogSourceProvider].getName)
        .option("path", log.toString).option("maxOpenLines", "3")
        .option("maxLinesPerTrigger", cap.toString)
        .option("indexGranularity", granularity.toString).load()
        .writeStream.format("memory").queryName(s"txbound_$cap")
        .outputMode(OutputMode.Append).start()
      try {
        // the tx's lines arrive with a wall-clock pause between them
        append(log, lines.take(4): _*)
        q.processAllAvailable()
        Thread.sleep(pauseMs)
        append(log, lines.drop(4): _*)
        q.processAllAvailable()
        (spark.table(s"txbound_$cap").select("seq", "txid").collect()
          .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq,
          metric(q, "abandonedDiscards"))
      } finally q.stop()
    }
    val want = Seq((3L, "tx-2-3"), (8L, "tx-1-7"))
    // one batch per arrival, or 2-line batches over a dense index whose
    // anchors fall inside the abandoned tx: the same rows
    assert(drain(Long.MaxValue, 4096, 0) === ((want, 3L)))
    assert(drain(2, 1, 1500) === ((want, 3L)))
  }

  test("T5: checkpointed parquet sink resumes without loss or duplication") {
    val sparkS = spark
    import sparkS.implicits._
    val dir = tempDir("txsink").toString
    val log = tempFile("txsinklog", ".tsv")
    def start() = graft.streaming.CdcStream.toParquetSink(
      committed(log), s"$dir/data", s"$dir/chk", Trigger.AvailableNow())
    append(log, line(1, "begin"), line(2, "mutation", "insert", 10),
      line(3, "commit", ts = 11))
    val q1 = start(); q1.awaitTermination(60000); q1.stop()
    append(log, line(4, "mutation", "delete", 20))
    val q2 = start(); q2.awaitTermination(60000); q2.stop()
    val rows = spark.read.parquet(s"$dir/data").as[TxMutation].collect()
    assert(rows.map(_.seq).sorted.toSeq === Seq(2, 4),
      "each mutation delivered exactly once across restarts")
  }

  test("T9: handoff persists the boundary to the position repository") {
    val sparkS = spark
    import sparkS.implicits._
    import graft.streaming.{BinlogPosition, CdcStream, TablePositionRepository}
    val dir = tempDir("handoff").toString
    val repo = new TablePositionRepository(s"$dir/positions.tsv")
    val snap = Seq((1L, 10L), (2L, 42L)).toDF("id", "seq")
    val boundary = CdcStream.snapshotHandoff(snap, s"$dir/t", "seq",
      repo, "consumer-1", "log-A")
    assert(boundary === 42L)
    assert(repo.load("consumer-1") === Some(BinlogPosition("log-A", 42L)),
      "a restarting consumer reads the boundary instead of re-snapshotting")
    // empty snapshot → sentinel boundary, persisted as replay-from-start
    val empty = Seq.empty[(Long, Long)].toDF("id", "seq")
    val b2 = CdcStream.snapshotHandoff(empty, s"$dir/t2", "seq",
      repo, "consumer-2")
    assert(b2 === Long.MinValue)
    assert(repo.load("consumer-2") ===
      Some(BinlogPosition("changelog", 0L)))
  }

  test("T9: snapshot boundary excludes already-snapshotted positions") {
    val sparkS = spark
    import sparkS.implicits._
    val snap = Seq((1L, 10L), (2L, 20L)).toDF("id", "seq")
    val dir = tempDir("snap").toString
    val boundary = graft.streaming.CdcStream.snapshotBoundary(
      snap, s"$dir/t", "seq")
    assert(boundary === 20L)
    val live = Seq(
      TxMutation(1, 15, "a", "insert", "p", 1, Map()),
      TxMutation(1, 25, "b", "insert", "p", 2, Map())).toDS()
    // the live feed resumes strictly past the boundary
    val resumed = live.filter(_.seq > boundary)
    assert(resumed.collect().map(_.seq).toSeq === Seq(25L))
  }
}
