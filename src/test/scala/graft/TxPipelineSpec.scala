package graft

import graft.streaming.TxPipeline
import graft.streaming.TxPipeline.{ChangeEvent, TxMutation, emptyState}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class TxPipelineSpec extends SparkSpec {

  def ev(seq: Long, kind: String, op: String = "", ts: Long = 0,
      conn: Long = 1): ChangeEvent =
    ChangeEvent(conn, seq, kind, op, s"pk$seq", ts, Map("v" -> seq.toString))

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
    val input = MemoryStream[ChangeEvent](spark)
    val q = TxPipeline.groupByTransaction(input.toDS())
      .writeStream.format("memory").queryName("txout")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: open tx on conn 1 + a full rolled-back tx on conn 2
      input.addData(
        ev(1, "begin"), ev(2, "mutation", "insert", 100),
        ev(1, "begin", conn = 2), ev(2, "mutation", "insert", 100, conn = 2),
        ev(3, "rollback", conn = 2))
      q.processAllAvailable()
      assert(spark.table("txout").count() === 0, "nothing committed yet")
      // batch 2: commit conn 1's tx
      input.addData(ev(3, "mutation", "update", 200), ev(4, "commit", ts = 500))
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
    val input = MemoryStream[ChangeEvent](spark)
    val stats = new TxPipeline.TxStats(spark.sparkContext)
    val q = TxPipeline.groupByTransactionBatched(input.toDS(),
        stats = Some(stats))
      .writeStream.format("memory").queryName("txbatchout")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, "begin"), ev(2, "mutation", "insert", 100))
      q.processAllAvailable()
      assert(spark.table("txbatchout").count() === 0)
      input.addData(ev(3, "mutation", "update", 200),
        ev(4, "commit", ts = 500),
        // rollback tx on conn 2 → counted, not emitted
        ev(1, "begin", conn = 2), ev(2, "mutation", "insert", 1, conn = 2),
        ev(3, "rollback", conn = 2))
      q.processAllAvailable()
      val batches = spark.table("txbatchout")
        .as[TxPipeline.TxBatch].collect()
      assert(batches.length === 1)
      assert(batches.head.txid === "tx-1-1")
      assert(batches.head.mutations.map(_.seq) === Seq(2, 3))
      assert(batches.head.mutations.forall(_.commitTsUs == 500))
      assert(stats.rollbacks.value === 1)
    } finally q.stop()
  }

  test("TxStats counts reset discards (BEGIN while a tx is open)") {
    val stats = new TxPipeline.TxStats(spark.sparkContext)
    val (st, out) = TxPipeline.advance(1, Seq(
      ev(1, "begin"), ev(2, "mutation", "insert", 100),
      ev(3, "mutation", "update", 200),
      ev(4, "begin"), // drops the 2 buffered mutations
      ev(5, "mutation", "insert", 300), ev(6, "commit", ts = 400)),
      emptyState, Some(stats))
    assert(!st.open)
    assert(out.map(_.seq) === Seq(5))
    assert(stats.resetDiscards.value === 2)
  }

  test("T5: checkpointed parquet sink resumes without loss or duplication") {
    val sparkS = spark
    import sparkS.implicits._
    val dir = tempDir("txsink").toString
    val input = MemoryStream[ChangeEvent](spark)
    def start() = graft.streaming.CdcStream.toParquetSink(
      TxPipeline.groupByTransaction(input.toDS()),
      s"$dir/data", s"$dir/chk",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    input.addData(ev(1, "begin"), ev(2, "mutation", "insert", 10),
      ev(3, "commit", ts = 11))
    val q1 = start(); q1.awaitTermination(60000); q1.stop()
    input.addData(ev(4, "mutation", "delete", 20))
    val q2 = start(); q2.awaitTermination(60000); q2.stop()
    val rows = spark.read.parquet(s"$dir/data").as[TxMutation].collect()
    assert(rows.map(_.seq).sorted.toSeq === Seq(2, 4),
      "each mutation delivered exactly once across restarts")
  }

  test("chaos: crash mid-micro-batch with an open BEGIN; restart emits " +
    "the tx exactly once on commit, the rolled-back twin never") {
    // The reference's core invariant — the consumer position does not
    // advance mid-transaction (MySQLSpec.scala:49-146) — under the
    // failure mode the reference never tested: the process dies while
    // the COMMIT's micro-batch is in flight. The state store version
    // for that batch is uncommitted, so the restart must replay it
    // from the pre-crash state (which still buffers the open tx's
    // first mutation) and emit everything exactly once.
    val sparkS = spark
    import sparkS.implicits._
    val dir = tempDir("txchaos").toString
    val input = MemoryStream[ChangeEvent](spark)
    @volatile var crashArmed = false
    def start() = TxPipeline.groupByTransaction(input.toDS())
      .writeStream
      .option("checkpointLocation", s"$dir/chk")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[TxMutation], _: Long) =>
          val rows = df.collect()
          if (crashArmed && rows.nonEmpty) {
            crashArmed = false
            throw new RuntimeException("injected mid-batch crash")
          }
          if (rows.nonEmpty)
            rows.toSeq.toDS().write.mode("append").parquet(s"$dir/data")
      }
      .start()
    def dataExists = java.nio.file.Files
      .exists(java.nio.file.Paths.get(s"$dir/data"))

    // phase A (clean): two open txs buffer in state, nothing commits
    input.addData(ev(1, "begin"), ev(2, "mutation", "insert", 10),
      ev(1, "begin", conn = 2), ev(2, "mutation", "insert", 10, conn = 2))
    val qa = start(); qa.awaitTermination(60000); qa.stop()
    assert(!dataExists, "open transactions must not emit")

    // phase B (crash): conn 1's COMMIT and conn 2's ROLLBACK arrive;
    // the injected failure kills the query while their batch is in
    // flight, before the sink write and the state/offset commit
    crashArmed = true
    input.addData(ev(3, "mutation", "update", 20), ev(4, "commit", ts = 99),
      ev(3, "rollback", conn = 2))
    val qb = start()
    val failed =
      try { qb.awaitTermination(60000); false }
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException =>
          true
      }
    qb.stop()
    assert(failed, "injected crash must surface as query failure")
    assert(!dataExists, "the crashed batch must not have emitted")

    // phase C (restart): the uncommitted batch replays against the
    // pre-crash state; the buffered phase-A mutation flushes with it
    val qc = start(); qc.awaitTermination(60000); qc.stop()
    val rows = spark.read.parquet(s"$dir/data").as[TxMutation].collect()
    assert(rows.map(_.seq).sorted.toSeq === Seq(2, 3),
      "tx emits exactly once, including the mutation buffered " +
        "BEFORE the crash")
    assert(rows.forall(r => r.conn == 1 && r.commitTsUs == 99 &&
      r.txid == "tx-1-1"), "rolled-back twin (conn 2) never emits")

    // phase D (idle drain): nothing replays twice
    val qd = start(); qd.awaitTermination(60000); qd.stop()
    assert(spark.read.parquet(s"$dir/data").count() === 2,
      "no duplicate emission on a further restart")
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
    val resumed = graft.streaming.CdcStream.resumeAfter(live, boundary)
    assert(resumed.collect().map(_.seq).toSeq === Seq(25L))
  }
}
