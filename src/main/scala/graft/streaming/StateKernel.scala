package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming._

/** `transformWithState` adapter shared by every keyed stateful
  * operator in the engine ([[StreamOps]]): a per-key single-
  * `ValueState` fold.
  *
  * Spark 4's arbitrary-state API replaces `flatMapGroupsWithState`
  * (SURVEY §7.2's named forward path): typed state handles with
  * per-state TTL, explicit timers, composite state, and the RocksDB
  * state store it requires — the provider a 100 TB deployment runs
  * anyway (state spills to disk + changelog checkpoints instead of
  * full HDFS snapshots of an in-memory map). [[graft.GraftSession]]
  * sets the provider session-wide.
  *
  * The fold sees `(key, batch rows, Option[prior state])` and returns
  * `(Option[next state], output)` — `None` clears state (the old
  * `GroupState.remove()`).
  *
  * Batch queries run the identical processor (one fold per key over
  * the whole group) — the t17 leaderboard oracle depends on that. */
object StateKernel {

  /** The per-key fold: (key, rows, prior) → (next, emitted). */
  type Fold[K, I, S, O] =
    (K, Iterator[I], Option[S]) => (Option[S], Iterator[O])

  class FoldProcessor[K, I, S, O](senc: Encoder[S],
      onInput: Fold[K, I, S, O]) extends StatefulProcessor[K, I, O] {

    @transient private var state: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S]("s", senc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
        tv: TimerValues): Iterator[O] = {
      val prev = if (state.exists()) Some(state.get()) else None
      val (next, out) = onInput(key, rows, prev)
      next match {
        case Some(s) => state.update(s)
        case None => state.clear()
      }
      out
    }
  }

  /** Wire a keyed fold into a Dataset. */
  def fold[K: Encoder, I, S, O: Encoder](
      ds: Dataset[I], key: I => K, senc: Encoder[S])(
      onInput: Fold[K, I, S, O]): Dataset[O] = {
    // batch mode loads its ephemeral state store through the driver's
    // StateStoreCoordinator endpoint, which only streaming startup
    // registers — ensure it exists (idempotent create-or-lookup)
    if (!ds.isStreaming)
      org.apache.spark.sql.graft.StateStoreBridge
        .ensureCoordinator(ds.sparkSession)
    ds.groupByKey(key)
      .transformWithState(new FoldProcessor[K, I, S, O](senc, onInput),
        TimeMode.None(), OutputMode.Append)
  }
}
