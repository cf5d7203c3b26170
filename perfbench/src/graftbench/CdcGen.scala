package graftbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded change-log traffic for the CDC workloads, written in the
  * change-log line format the engine's source reads (one event per
  * newline-terminated line, tab-separated `conn seq kind op pk ts_us
  * value`, `\N` for NULL) — rendered here, independently of the engine.
  *
  * Traffic: `Conns` connections interleave at event granularity; each
  * transaction holds a geometric number of mutations (mean `MeanTx`),
  * rolls back with probability `RollbackP`, and touches Zipf-skewed
  * primary keys. `seq` is the global line number, so it is strictly
  * increasing per connection, like a binlog position.
  *
  * The generator keeps the expected fold of what it wrote: committed
  * mutations per topic and op, the latest committed image per pk, and
  * the rolled-back transaction ids. Only transactions whose COMMIT line
  * was written count.
  */
final class CdcGen(seed: Long) {
  import CdcGen._

  private val rng = new SplittableRandom(seed)

  private final class Conn {
    var open = false
    var beginSeq = -1L
    var left = 0
    var rollback = false
    val buffer = mutable.ArrayBuffer.empty[(Long, Int, String, String)]
  }
  private val state = Array.fill(Conns)(new Conn)
  @volatile private var line = 0L

  val fold = new Fold

  def linesWritten: Long = line

  private def zipfKey(): Int = {
    val u = rng.nextDouble()
    var lo = 0; var hi = Keys - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (zipfCdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Geometric size >= 1 with mean `MeanTx`. */
  private def txSize(): Int = {
    val p = 1.0 / MeanTx
    1 + (math.log(1.0 - rng.nextDouble()) / math.log(1.0 - p)).toInt
  }

  private val sb = new java.lang.StringBuilder(128)

  /** Append the next event of a random connection; `tsUs` stamps the
    * line (a COMMIT's stamp becomes its mutations' commit time).
    * Returns true when the line was a COMMIT. */
  def next(out: OutputStream, tsUs: Long): Boolean =
    emit(out, rng.nextInt(Conns), tsUs, closeOnly = false)

  /** Close every open transaction (COMMIT or its planned ROLLBACK). */
  def finish(out: OutputStream, tsUs: Long): Unit =
    state.indices.foreach { c =>
      while (state(c).open) emit(out, c, tsUs, closeOnly = true)
    }

  private def emit(out: OutputStream, c: Int, tsUs: Long,
      closeOnly: Boolean): Boolean = {
    val st = state(c)
    val seq = line
    sb.setLength(0)
    sb.append(c).append('\t').append(seq).append('\t')
    var committed = false
    if (!st.open) {
      st.open = true; st.beginSeq = seq; st.left = txSize()
      st.rollback = rng.nextDouble() < RollbackP
      st.buffer.clear()
      sb.append("begin\t\\N\t\\N\t").append(tsUs).append("\t\\N")
    } else if (st.left > 0 && !closeOnly) {
      st.left -= 1
      val op = rng.nextInt(OpNames.length)
      val pk = "k" + zipfKey()
      val value = s"c$c-$seq-${OpNames(op).charAt(0)}"
      st.buffer += ((seq, op, pk, value))
      sb.append("mutation\t").append(OpNames(op)).append('\t').append(pk)
        .append('\t').append(tsUs).append('\t').append(value)
    } else {
      if (st.rollback) {
        sb.append("rollback")
        fold.rollback(txid(c, st.beginSeq), st.buffer.size)
      } else {
        sb.append("commit")
        st.buffer.foreach { case (s, op, pk, v) => fold.commit(c, s, op, pk, v) }
        fold.txMutations(txid(c, st.beginSeq)) = st.buffer.size
        committed = true
      }
      sb.append("\t\\N\t\\N\t").append(tsUs).append("\t\\N")
      st.open = false
    }
    sb.append('\n')
    out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    line += 1
    committed
  }
}

object CdcGen {
  // The traffic's shape (see README.md, "Inputs and seeds", for where each
  // value comes from and how much the drain's throughput depends on it).
  val Conns = 32
  val MeanTx = 5.0
  val RollbackP = 0.02
  /** Primary keys `k0 .. k(Keys - 1)`, rank r drawn with weight
    * 1 / (r + 1)^ZipfS. */
  val Keys = 200000
  val ZipfS = 1.1

  /** The ops, indexed by op; each mutation draws one uniformly. */
  val OpNames: Array[String] = Array("insert", "update", "delete")
  /** The envelope mtype byte the avro framing assigns to each op. */
  val Mtype: Array[Int] = Array(1, 2, 3)

  def txid(conn: Int, beginSeq: Long): String = s"tx-$conn-$beginSeq"

  private lazy val zipfCdf: Array[Double] = {
    val cdf = new Array[Double](Keys)
    var acc = 0.0
    var i = 0
    while (i < Keys) { acc += 1.0 / math.pow(i + 1.0, ZipfS); cdf(i) = acc; i += 1 }
    i = 0
    while (i < Keys) { cdf(i) /= acc; i += 1 }
    cdf
  }

  /** Expected fold of the committed traffic. */
  final class Fold {
    /** committed mutations per (conn, op) */
    val perTopicOp: Array[Array[Long]] = Array.fill(Conns)(new Array[Long](3))
    /** pk -> (seq, op, value) of its latest committed mutation */
    val latest = new java.util.HashMap[String, (Long, Int, String)]()
    /** committed txid -> its mutation count */
    val txMutations = mutable.HashMap.empty[String, Int]
    val rolledBack = mutable.HashSet.empty[String]
    var rolledBackMutations = 0L

    def commit(conn: Int, seq: Long, op: Int, pk: String, v: String): Unit = {
      perTopicOp(conn)(op) += 1
      val prev = latest.get(pk)
      if (prev == null || prev._1 < seq) latest.put(pk, (seq, op, v))
    }
    def rollback(id: String, mutations: Int): Unit = {
      rolledBack += id; rolledBackMutations += mutations
    }
    def committedMutations: Long = perTopicOp.map(_.sum).sum
  }

  val Ts0Us = 1700000000000000L

  /** Write a backlog of at least `lines` lines into `segments` rotated
    * segment files `dir/seg-<i>.log`; every transaction is closed at the
    * end. Returns the generator, whose fold describes the log. */
  def writeBacklog(seed: Long, dir: File, lines: Long, segments: Int): CdcGen = {
    dir.mkdirs()
    val g = new CdcGen(seed)
    val per = lines / segments
    (0 until segments).foreach { s =>
      val last = s == segments - 1
      writeSegment(g, new File(dir, s"seg-$s.log"),
        if (last) lines else per * (s + 1), closeAll = last)
    }
    g
  }

  /** Continue `g` into `file` until it has written `upTo` lines in all;
    * with `closeAll`, then close every open transaction. */
  def writeSegment(g: CdcGen, file: File, upTo: Long, closeAll: Boolean): Unit = {
    file.getParentFile.mkdirs()
    val out = new BufferedOutputStream(new FileOutputStream(file), 1 << 20)
    try {
      while (g.linesWritten < upTo) g.next(out, Ts0Us + g.linesWritten)
      if (closeAll) g.finish(out, Ts0Us + g.linesWritten)
    } finally out.close()
  }

  /** `gen-log <seed> <dir> <lines> <segments>`: write a backlog (the
    * determinism test runs this twice and compares bytes). */
  def main(args: Array[String]): Unit = {
    val g = writeBacklog(args(0).toLong, new File(args(1)), args(2).toLong,
      args(3).toInt)
    println(s"${g.linesWritten} ${g.fold.committedMutations}")
  }
}
