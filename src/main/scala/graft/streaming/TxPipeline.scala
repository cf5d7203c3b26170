package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Transaction grouping — the semantic heart of the reference
  * (SURVEY.md §2.4 T1–T5): between BEGIN and COMMIT the consumer
  * buffers mutations per connection and assigns a txid; COMMIT flushes
  * the buffer with every mutation's timestamp rewritten to the commit
  * timestamp; ROLLBACK discards it (reference `mypipe-api/src/main/
  * scala/mypipe/api/consumer/AbstractBinaryLogConsumer.scala:15-21,
  * 74-82,124-177`).
  *
  * Spark shape: a committed-only source (the Debezium shape SURVEY's
  * T1 row names). [[graft.sources.ChangeLogSource]]'s reader folds
  * every connection through [[step]] and emits a transaction only once
  * its COMMIT line is inside the batch. Each reader starts at the
  * driver's low-water line — the earliest BEGIN among transactions open
  * at its slice start — so a transaction spanning micro-batches or
  * segments is re-read from its BEGIN rather than kept in a state store.
  * This is the reference's "don't advance the binlog position mid-tx"
  * rule, expressed as a re-read: replay from the immutable log is
  * deterministic, so exactly-once needs no state and no shuffle.
  *
  * Differences from the reference, by design:
  *  - txid is deterministic (`tx-<conn>-<begin event id>`) rather than
  *    UUIDv1, for replay-stable output (SURVEY §7.5);
  *  - abandoned transactions: the reference waits forever, and so does
  *    the default. `maxOpenLines` bounds a transaction in log lines: one
  *    whose COMMIT is more than that many lines after its BEGIN is
  *    discarded, whatever the batch boundaries or processing speed.
  */
object TxPipeline {

  /** Raw change-stream event: `kind` ∈ begin|commit|rollback|mutation
    * (the reference's BeginEvent/CommitEvent/RollbackEvent/Mutation ADT,
    * event/package.scala:7-41,47-139). `seq` is the total per-connection
    * order (binlog position analog). The input of the pure [[advance]]. */
  case class ChangeEvent(
      conn: Long, seq: Long, kind: String, op: String,
      pk: String, tsUs: Long, payload: Map[String, String])

  /** A committed, tx-stamped mutation (the pipeline's output). */
  case class TxMutation(
      conn: Long, seq: Long, txid: String, op: String,
      pk: String, commitTsUs: Long, payload: Map[String, String])

  /** A whole committed transaction flushed as one unit — the
    * reference's optional `group-mutations-by-tx` emission mode
    * (`AbstractBinaryLogConsumer.scala:155`, `reference.conf:21`):
    * consumers that need tx-atomic delivery get the full mutation list
    * in commit order, one record per transaction. */
  case class TxBatch(
      conn: Long, txid: String, commitTsUs: Long,
      mutations: Seq[TxMutation])

  implicit val mutationEnc: Encoder[TxMutation] = Encoders.product[TxMutation]
  implicit val batchEnc: Encoder[TxBatch] = Encoders.product[TxBatch]

  /** Event kinds as [[step]] reads them; anything else is [[Unknown]]. */
  val Begin = 0
  val Mutation = 1
  val Commit = 2
  val Rollback = 3
  val Unknown = 4

  def kindOf(kind: String): Int = kind match {
    case "begin" => Begin
    case "mutation" => Mutation
    case "commit" => Commit
    case "rollback" => Rollback
    case _ => Unknown
  }

  /** One connection's place in the transaction grammar: whether a
    * transaction is open, its BEGIN's seq (the txid) and log line (the
    * `maxOpenLines` bound), and its buffered mutations, newest first. */
  final case class OpenTx[+M](open: Boolean, beginSeq: Long,
      beginLine: Long, buffer: List[M])

  val closed: OpenTx[Nothing] = OpenTx(open = false, -1L, -1L, Nil)

  /** A connection inside a transaction that began too far back to
    * commit: its mutations are never emitted, as part of a transaction
    * or outside one. */
  val abandoned: OpenTx[Nothing] = OpenTx(open = true, -1L, Long.MinValue, Nil)

  val emptyState: OpenTx[ChangeEvent] = closed

  def txid(conn: Long, beginSeq: Long): String = s"tx-$conn-$beginSeq"

  /** Whether the transaction that began at `beginLine` can no longer
    * commit at `line`: its COMMIT would be more than `maxOpenLines`
    * lines after its BEGIN. */
  def expired(beginLine: Long, line: Long, maxOpenLines: Long): Boolean =
    beginLine < line - maxOpenLines

  /** The one transition: connection `conn` in state `st` reads the event
    * at log position `line`. Committed mutations go to `emit` with their
    * txid and commit timestamp — a transaction's mutations on its COMMIT
    * (T2: all take the commit's timestamp), a non-tx mutation at once
    * with its own position as txid. `m` is the mutation's payload for
    * `kind == Mutation` (unused otherwise).
    *
    * A BEGIN while a transaction is open drops the buffer: an open tx
    * can't commit once its connection starts a new one (a binlog never
    * interleaves transactions per connection); there is no implicit
    * commit, mirroring the reference. ROLLBACK discards (T1); an empty
    * COMMIT emits nothing (T4); unknown kinds are skipped (reference
    * UnknownEvent). */
  def step[M](st: OpenTx[M], conn: Long, kind: Int, seq: Long, line: Long,
      tsUs: Long, m: M, maxOpenLines: Long)(
      emit: (M, String, Long) => Unit): OpenTx[M] = kind match {
    case Begin => OpenTx(open = true, seq, line, Nil)
    case Mutation =>
      if (!st.open) { emit(m, txid(conn, seq), tsUs); st }
      else if (expired(st.beginLine, line, maxOpenLines))
        if (st.buffer.isEmpty) st else st.copy(buffer = Nil)
      else st.copy(buffer = m :: st.buffer)
    case Commit =>
      if (st.open && !expired(st.beginLine, line, maxOpenLines)) {
        val id = txid(conn, st.beginSeq)
        st.buffer.reverse.foreach(emit(_, id, tsUs))
      }
      closed
    case Rollback => closed
    case _ => st
  }

  /** [[step]] over one connection's events in `seq` order, with `seq`
    * as the log position. Pure, so the grammar is unit-testable without
    * a stream. */
  def advance(conn: Long, events: Seq[ChangeEvent], state: OpenTx[ChangeEvent],
      maxOpenLines: Long = Long.MaxValue)
      : (OpenTx[ChangeEvent], Seq[TxMutation]) = {
    val out = Seq.newBuilder[TxMutation]
    val next = events.sortBy(_.seq).foldLeft(state) { (st, e) =>
      step(st, conn, kindOf(e.kind), e.seq, e.seq, e.tsUs, e, maxOpenLines) {
        (m, id, ts) => out += TxMutation(conn, m.seq, id, m.op, m.pk, ts,
          m.payload)
      }
    }
    (next, out.result())
  }

  /** Consecutive same-txid runs as one [[TxBatch]] each. Mutations
    * within a tx share one commitTsUs, so the grouping is lossless. */
  private def runs(ms: Iterator[TxMutation]): Iterator[TxBatch] = {
    val it = ms.buffered
    new Iterator[TxBatch] {
      def hasNext: Boolean = it.hasNext
      def next(): TxBatch = {
        val first = it.next()
        val run = Seq.newBuilder[TxMutation] += first
        while (it.hasNext && it.head.txid == first.txid) run += it.next()
        TxBatch(first.conn, first.txid, first.commitTsUs, run.result())
      }
    }
  }

  /** [[advance]] in `group-mutations-by-tx` mode: committed
    * transactions surface as one [[TxBatch]] each, in commit order;
    * non-tx mutations as singleton batches (their own txid). */
  def advanceBatched(conn: Long, events: Seq[ChangeEvent],
      state: OpenTx[ChangeEvent]): (OpenTx[ChangeEvent], Seq[TxBatch]) = {
    val (st, flat) = advance(conn, events, state)
    (st, runs(flat.iterator).toSeq)
  }

  /** The committed stream in `group-mutations-by-tx` mode. Stateless:
    * the source emits each transaction's mutations together, in one
    * partition, so a per-partition run split is the whole grouping. */
  def batched(mutations: Dataset[TxMutation]): Dataset[TxBatch] =
    mutations.mapPartitions(runs)
}
