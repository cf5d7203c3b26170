package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import scala.collection.concurrent.TrieMap
import scala.util.Random

import graft.sources.{ChangeLogSource, ChangeLogSourceProvider}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** Exactly-once resume of the CDC pipe under a crash at any point:
  * seeded small logs are drained with capped batches and rotated
  * segments, the pipe is killed once at a random batch and point, and
  * after the restarts the sink must equal an independent fold of the
  * log. The sink is idempotent per batch id (the `foreachBatch`
  * exactly-once contract): a replayed batch overwrites what its crashed
  * attempt wrote. */
class CrashConsistencySpec extends SparkSpec {
  import CrashConsistencySpec._

  private val fmt = classOf[ChangeLogSourceProvider].getName

  /** The sink's view of one committed mutation. */
  case class Out(txid: String, seq: Long, pk: String, op: String,
      value: String, conn: Long, commitTsUs: Long)

  /** Where an armed crash fires in the batch it hits. */
  sealed trait Kill
  /** The offset is logged, the sink has seen nothing. */
  case object AfterOffsetLog extends Kill
  /** Half the batch is written. */
  case object InsideWrite extends Kill
  /** The whole batch is written, Spark's commit file is not. */
  case object BeforeCommit extends Kill
  private val kills = Vector(AfterOffsetLog, InsideWrite, BeforeCommit)

  /** One pipe over `log` with a checkpoint, a batch-keyed sink and an
    * optional armed crash: `arm(batchId, rows)` picks the kill, once. */
  final class Pipe(log: Path, chk: Path, opts: Map[String, String]) {
    val sink = TrieMap.empty[Long, Vector[Out]]
    @volatile var arm: Option[(Long, Int) => Option[Kill]] = None

    def rows: Vector[Out] = sink.toVector.sortBy(_._1).flatMap(_._2)

    /** Drain what the log holds; true when the armed crash killed it. */
    def run(): Boolean = {
      val q = spark.readStream.format(fmt).options(opts)
        .option("path", log.toString).load()
        .writeStream.option("checkpointLocation", chk.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, id: Long) =>
          val rows = df.select(col("txid"), col("seq"), col("pk"), col("op"),
            col("payload").getItem("value"), col("conn"), col("commitTsUs"))
            .collect().map(r => Out(r.getString(0), r.getLong(1),
              r.getString(2), r.getString(3), r.getString(4), r.getLong(5),
              r.getLong(6))).toVector
          val kill = arm.flatMap(_(id, rows.size))
          if (kill.isDefined) arm = None
          def write(rs: Vector[Out]): Unit = if (rs.nonEmpty) sink(id) = rs
          kill match {
            case None => write(rows)
            case Some(k) =>
              if (k == InsideWrite) write(rows.take(rows.size / 2))
              if (k == BeforeCommit) write(rows)
              throw new RuntimeException(s"injected crash: $k in batch $id")
          }
        }
        .start()
      try { q.awaitTermination(); false }
      catch { case _: StreamingQueryException => true }
      finally q.stop()
    }
  }

  private def write(p: Path, lines: Seq[String],
      opts: StandardOpenOption*): Unit =
    Files.write(p, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8), opts: _*)

  test("crash at a random point and restart: the sink equals the fold " +
    "of the log, over 100 seeds") {
    var openAtCrash = 0
    var openAtRotation = 0
    var crashes = Map.empty[Kill, Int]
    (1 to 100).foreach { seed =>
      val rng = new Random(seed)
      val evs = generate(rng, 30 + rng.nextInt(30))
      val maxOpen =
        if (rng.nextBoolean()) Long.MaxValue else 3L + rng.nextInt(12)
      val cap = 3 + rng.nextInt(8)
      val opts = Map("maxLinesPerTrigger" -> cap.toString,
        "maxOpenLines" -> maxOpen.toString,
        "indexGranularity" -> Seq("1", "2", "3", "4096")(rng.nextInt(4)))
      // phase 1: 1-3 segments of the first part; phase 2 rotates the
      // rest in as a new segment
      val split = evs.size / 2 + rng.nextInt(evs.size / 3)
      val dir = tempDir(s"crash$seed")
      val log = Files.createDirectory(dir.resolve("log"))
      val segs = 1 + rng.nextInt(3)
      val first = evs.take(split).map(_.line)
      val per = (first.size + segs - 1) / segs
      first.grouped(per).zipWithIndex.foreach { case (ls, i) =>
        write(log.resolve(f"seg.$i%03d"), ls) }
      val pipe = new Pipe(log, dir.resolve("chk"), opts)
      val phase1Batches = (split + cap - 1) / cap
      val total = phase1Batches + (evs.size - split + cap - 1) / cap
      val crashBatch = rng.nextInt(total).toLong
      val kill = kills(rng.nextInt(kills.size))
      pipe.arm = Some((id, _) => Option.when(id == crashBatch)(kill))
      val crashStart =
        if (crashBatch < phase1Batches) crashBatch * cap
        else split + (crashBatch - phase1Batches) * cap
      if (openTxAt(evs, crashStart)) openAtCrash += 1
      if (openTxAt(evs, split)) openAtRotation += 1

      var crashed = pipe.run()
      if (crashed) assert(!pipe.run(), s"seed $seed: restart failed")
      write(log.resolve(f"seg.$segs%03d"), evs.drop(split).map(_.line))
      val crashed2 = pipe.run()
      if (crashed2) assert(!pipe.run(), s"seed $seed: restart failed")
      crashed ||= crashed2
      assert(crashed, s"seed $seed: the armed crash never fired")
      crashes += kill -> (crashes.getOrElse(kill, 0) + 1)
      val before = pipe.rows
      assert(!pipe.run())
      assert(pipe.rows === before, s"seed $seed: an idle restart emitted")

      val want = fold(evs, maxOpen)
      val got = pipe.rows
      val ctx = s"seed $seed (cap $cap, maxOpen $maxOpen, $kill at " +
        s"batch $crashBatch, $opts)"
      assert(got.groupBy(_.txid).map { case (k, v) => k -> v.size } ===
        want.perTx, s"$ctx: per-txid mutation counts")
      assert(got.map(_.txid).toSet.intersect(want.rolledBack).isEmpty,
        s"$ctx: a rolled-back transaction reached the sink")
      assert(latest(got.map(o => (o.pk, o.seq, o.op, o.value))) ===
        want.latest, s"$ctx: latest image per pk")
      TestTemp.delete(new java.util.ArrayList(java.util.List.of(dir)))
    }
    // the property covered what it claims to
    assert(kills.forall(k => crashes.getOrElse(k, 0) > 10), s"kills $crashes")
    assert(openAtCrash > 30, s"only $openAtCrash crashes with a tx open")
    assert(openAtRotation > 30, s"only $openAtRotation rotations mid-tx")
  }

  test("chaos: crash mid-micro-batch with an open BEGIN; restart emits " +
    "the tx exactly once on commit, the rolled-back twin never") {
    // The reference's core invariant — the consumer position does not
    // advance mid-transaction (MySQLSpec.scala:49-146) — under the
    // failure mode the reference never tested: the process dies while
    // the COMMIT's micro-batch is in flight. The batch's commit file is
    // never written, so the restart must replay it, re-reading the open
    // tx from its BEGIN in an earlier batch, and emit everything
    // exactly once.
    val dir = tempDir("txchaos")
    val log = Files.createFile(dir.resolve("log.tsv"))
    val pipe = new Pipe(log, dir.resolve("chk"), Map.empty)
    def line(seq: Long, kind: String, op: String = "", ts: Long = 0,
        conn: Long = 1) =
      ChangeLogSource.renderLine(conn, seq, kind, op, s"pk$seq", ts, "v")
    def dataExists = pipe.sink.nonEmpty

    // phase A (clean): two open txs, nothing commits
    write(log, Seq(line(1, "begin"), line(2, "mutation", "insert", 10),
      line(1, "begin", conn = 2), line(2, "mutation", "insert", 10, conn = 2)),
      StandardOpenOption.APPEND)
    assert(!pipe.run())
    assert(!dataExists, "open transactions must not emit")

    // phase B (crash): conn 1's COMMIT and conn 2's ROLLBACK arrive;
    // the injected failure kills the query while their batch is in
    // flight, before the sink write and the offset commit
    pipe.arm = Some((_, rows) => Option.when(rows > 0)(AfterOffsetLog))
    write(log, Seq(line(3, "mutation", "update", 20), line(4, "commit", ts = 99),
      line(3, "rollback", conn = 2)), StandardOpenOption.APPEND)
    val failed = pipe.run()
    assert(failed, "injected crash must surface as query failure")
    assert(!dataExists, "the crashed batch must not have emitted")

    // phase C (restart): the uncommitted batch replays; the phase-A
    // mutation, read again from the BEGIN, flushes with it
    assert(!pipe.run())
    val rows = pipe.rows
    assert(rows.map(_.seq).sorted === Seq(2, 3),
      "tx emits exactly once, including the mutation logged " +
        "BEFORE the crash")
    assert(rows.forall(r => r.conn == 1 && r.commitTsUs == 99 &&
      r.txid == "tx-1-1"), "rolled-back twin (conn 2) never emits")

    // phase D (idle drain): nothing replays twice
    assert(!pipe.run())
    assert(pipe.rows.size === 2, "no duplicate emission on a further restart")
  }
}

object CrashConsistencySpec {
  /** One generated log event; its index in the log is its line. */
  case class Ev(conn: Int, seq: Long, kind: String, op: String, pk: String,
      ts: Long, value: String) {
    def line: String =
      ChangeLogSource.renderLine(conn, seq, kind, op, pk, ts, value)
  }

  private val Ops = Vector("insert", "update", "delete")

  /** `n` events over 3 connections: transactions of random size that
    * commit, roll back or are reset by a BEGIN, non-tx mutations, stray
    * COMMITs and an unknown kind. `seq` is not the line number, so a
    * mix-up of the two shows. */
  def generate(rng: Random, n: Int): Vector[Ev] = {
    val open = Array.fill(3)(false)
    (0 until n).map { i =>
      val c = rng.nextInt(3)
      val r = rng.nextDouble()
      val kind =
        if (open(c))
          if (r < 0.55) "mutation" else if (r < 0.75) "commit"
          else if (r < 0.87) "rollback" else if (r < 0.94) "begin"
          else "heartbeat"
        else if (r < 0.6) "begin" else if (r < 0.9) "mutation" else "commit"
      kind match {
        case "begin" => open(c) = true
        case "commit" | "rollback" => open(c) = false
        case _ =>
      }
      if (kind == "mutation")
        Ev(c, 1000L + 3 * i, kind, Ops(rng.nextInt(3)), s"k${rng.nextInt(6)}",
          10000L + i, if (rng.nextInt(5) == 0) null else s"v$i")
      else Ev(c, 1000L + 3 * i, kind, null, null, 10000L + i, null)
    }.toVector
  }

  /** Whether some transaction is open just before line `line`. */
  def openTxAt(evs: Vector[Ev], line: Long): Boolean = {
    val open = Array.fill(3)(false)
    evs.take(line.toInt).foreach { e =>
      if (e.kind == "begin") open(e.conn) = true
      else if (e.kind == "commit" || e.kind == "rollback") open(e.conn) = false
    }
    open.exists(identity)
  }

  case class Fold(perTx: Map[String, Int], rolledBack: Set[String],
      latest: Map[String, (String, String)])

  /** pk → (op, value) of its highest-seq mutation. */
  def latest(ms: Seq[(String, Long, String, String)])
      : Map[String, (String, String)] =
    ms.groupBy(_._1).map { case (pk, xs) =>
      val m = xs.maxBy(_._2); pk -> ((m._3, m._4)) }

  /** The expected output, written independently of the engine's
    * transition: per connection one open buffer; COMMIT emits it when
    * at most `maxOpen` lines after its BEGIN, ROLLBACK and a BEGIN drop
    * it, a mutation outside a transaction is its own txid. */
  def fold(evs: Vector[Ev], maxOpen: Long): Fold = {
    case class Tx(beginLine: Int, beginSeq: Long,
        buf: Vector[Ev] = Vector.empty)
    val open = scala.collection.mutable.Map.empty[Int, Tx]
    val out = Vector.newBuilder[(String, Ev)]
    var rolledBack = Set.empty[String]
    evs.zipWithIndex.foreach { case (e, i) =>
      e.kind match {
        case "begin" => open(e.conn) = Tx(i, e.seq)
        case "mutation" => open.get(e.conn) match {
          case Some(t) => open(e.conn) = t.copy(buf = t.buf :+ e)
          case None => out += ((s"tx-${e.conn}-${e.seq}", e))
        }
        case "commit" => open.remove(e.conn).foreach { t =>
          if (i - t.beginLine <= maxOpen)
            t.buf.foreach(m => out += ((s"tx-${e.conn}-${t.beginSeq}", m)))
        }
        case "rollback" => open.remove(e.conn).foreach { t =>
          rolledBack += s"tx-${e.conn}-${t.beginSeq}" }
        case _ =>
      }
    }
    val ms = out.result()
    Fold(ms.groupBy(_._1).map { case (k, v) => k -> v.size }, rolledBack,
      latest(ms.map { case (_, m) => (m.pk, m.seq, m.op, m.value) }))
  }
}
