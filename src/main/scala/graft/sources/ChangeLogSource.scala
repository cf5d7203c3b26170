package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets
import java.util

import scala.collection.mutable

import graft.streaming.TxPipeline
import graft.streaming.TxPipeline.OpenTx
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 streaming source for an append-only change log — the
  * engine's stand-in for the MySQL binlog connection (SURVEY.md §2.1 S1,
  * §7.4: "the only true custom component"). The reference connects as a
  * fake replica and resumes from a saved `(file, pos)`
  * (`AbstractMySQLBinaryLogConsumer.scala:23-33,124-151`); here the log
  * is a TSV file of change events, the offset is the line position, and
  * Structured Streaming's checkpoint plays the position repository
  * (T5/T6).
  *
  * The source emits only COMMITTED mutations, in [[schema]] (the
  * `TxPipeline.TxMutation` columns), stamped with txid and commit
  * timestamp — transaction grouping (T1–T4) happens in the reader:
  *  - the driver's index scan already reads every log byte; it also
  *    parses each line's connection and kind and keeps, per index
  *    anchor, a LOW-WATER line: the earliest BEGIN among transactions
  *    open at that line;
  *  - a partition reads from the low-water line of its slice start
  *    (possibly in an earlier segment), folds every connection through
  *    `TxPipeline.step`, and emits a transaction only if its COMMIT line
  *    is inside `[start, end)`, a non-tx mutation only if its own line
  *    is. Replay from the immutable log is deterministic, so a batch
  *    re-run emits the same rows: exactly-once needs no state store;
  *  - `maxOpenLines` (default unbounded) discards a transaction whose
  *    COMMIT is more than that many lines after its BEGIN. The driver
  *    leaves such transactions out of the low-water line (the re-read
  *    stays bounded) and hands their connections to the reader, which
  *    then never surfaces their mutations, in or out of a transaction.
  *
  * Deliberate semantics, mirroring the binlog:
  *  - each log **segment** is serial — a binlog is a totally ordered
  *    log; within a segment parallelism begins *downstream* (partition
  *    by connection/table), not at the tail (SURVEY §7.5). When `path`
  *    is a directory its name-sorted files are rotated segments of one
  *    logical log (binlog FLUSH/rotate), the offset carries
  *    (line, segment, byte), and a multi-segment BACKLOG replays with
  *    one input partition per segment — parallel catch-up, serial tail;
  *  - `maxLinesPerTrigger` bounds a micro-batch (backpressure the
  *    reference lacks — its queues were unbounded);
  *  - offsets are monotone line counts; `commit` is a no-op because the
  *    log is immutable (a real binlog source would prune).
  *
  * Per batch the stream reports [[ChangeLogSource.MetricKeys]] in the
  * query progress (`sources[0].metrics`): the binlog lag in lines and
  * bytes, the lines re-read below the batch start, and the mutations
  * discarded by rollbacks, resets and the `maxOpenLines` bound.
  *
  * Record contract: entries are newline-TERMINATED — an unterminated
  * tail (a partially flushed write) is invisible until its terminator
  * lands, so readers never observe half an entry.
  */
object ChangeLogSource {
  val schema: StructType = StructType(Seq(
    StructField("conn", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("txid", StringType, nullable = true),
    StructField("op", StringType, nullable = true),
    StructField("pk", StringType, nullable = true),
    StructField("commitTsUs", LongType, nullable = false),
    StructField("payload", MapType(StringType, StringType), nullable = true)))

  /** The source metrics of the latest batch, in `sources[0].metrics`. */
  val MetricKeys: Seq[String] = Seq("linesBehind", "bytesBehind",
    "linesReRead", "rollbackDiscards", "resetDiscards", "abandonedDiscards")

  /** Escape a field for the TSV frame: a literal tab/newline/backslash
    * in pk or value would otherwise shift or split the record. */
  def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t")
      .replace("\n", "\\n").replace("\r", "\\r")

  def unescape(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => out.append('\t'); i += 2
          case 'n' => out.append('\n'); i += 2
          case 'r' => out.append('\r'); i += 2
          case '\\' => out.append('\\'); i += 2
          case other => out.append(c); i += 1
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** NULL sentinel on the wire (MySQL-dump convention): a raw `\N`
    * field is SQL NULL. Unambiguous: a literal backslash in data is
    * escaped to `\\`, so data can never render as a bare `\N` — which
    * makes empty string and NULL distinct, round-trippable values. */
  val NullField: String = "\\N"

  private def renderField(s: String): String =
    if (s == null) NullField else escape(s)

  /** Anchor spacing of the sparse line index: the driver keeps one
    * byte offset and one low-water line per this many lines (16 B /
    * 4096 lines ≈ 4 MB for a billion-line log — a dense per-line index
    * would be 8 GB of driver memory, a real scale-killer); readers seek
    * to the anchor at or before their read start and skip at most
    * granularity-1 lines. */
  val DefaultIndexGranularity: Int = 4096

  /** TSV render of one change event (inverse of the reader). Nullable
    * fields (op, pk, value) accept null and render the `\N` sentinel. */
  def renderLine(conn: Long, seq: Long, kind: String, op: String,
      pk: String, tsUs: Long, value: String): String =
    s"$conn\t$seq\t${escape(kind)}\t${renderField(op)}\t${renderField(pk)}\t$tsUs\t${renderField(value)}"

  // ── byte-level line parsing, shared by the driver scan and readers ──

  /** The decimal Long in `buf[from, to)`; `empty` when the field is
    * empty. */
  private[sources] def parseLong(buf: Array[Byte], from: Int, to: Int,
      empty: Long): Long = {
    if (from == to) return empty
    var i = from
    val neg = buf(i) == '-'
    if (neg) i += 1
    var v = 0L
    while (i < to) {
      val d = buf(i) - '0'
      if (d < 0 || d > 9) throw new IllegalArgumentException(
        "malformed change-log number: " +
          new String(buf, from, to - from, StandardCharsets.UTF_8))
      v = v * 10 + d
      i += 1
    }
    if (neg) -v else v
  }

  private def is(buf: Array[Byte], from: Int, to: Int, s: String): Boolean =
    to - from == s.length && {
      var i = 0
      while (i < s.length && buf(from + i) == s.charAt(i)) i += 1
      i == s.length
    }

  /** The `TxPipeline` kind code of the kind field `buf[from, to)`. */
  private[sources] def kindOf(buf: Array[Byte], from: Int, to: Int): Int =
    if (is(buf, from, to, "mutation")) TxPipeline.Mutation
    else if (is(buf, from, to, "begin")) TxPipeline.Begin
    else if (is(buf, from, to, "commit")) TxPipeline.Commit
    else if (is(buf, from, to, "rollback")) TxPipeline.Rollback
    else TxPipeline.Unknown

  /** Index of the next tab at or after `from` (or `to`). */
  private[sources] def tab(buf: Array[Byte], from: Int, to: Int): Int = {
    var i = from
    while (i < to && buf(i) != '\t') i += 1
    i
  }
}

/** Newline-framed lines of a byte stream, handed out as `[start, end)`
  * slices of one reused buffer (the newline, and a `\r` before it,
  * excluded). `consumed` is the byte count up to the next unread line.
  * A final line without its newline is never handed out. */
private[sources] final class LineScanner(in: InputStream) {
  var buf: Array[Byte] = new Array[Byte](1 << 16)
  var start = 0
  var end = 0
  private var lim = 0
  private var next = 0
  private var dropped = 0L

  def consumed: Long = dropped + next

  def nextLine(): Boolean = {
    var i = next
    while (true) {
      while (i < lim && buf(i) != '\n') i += 1
      if (i < lim) {
        start = next; next = i + 1
        end = if (i > start && buf(i - 1) == '\r') i - 1 else i
        return true
      }
      if (next > 0) {
        System.arraycopy(buf, next, buf, 0, lim - next)
        lim -= next; i -= next; dropped += next; next = 0
      }
      if (lim == buf.length) buf = util.Arrays.copyOf(buf, buf.length * 2)
      val n = in.read(buf, lim, buf.length - lim)
      if (n <= 0) return false
      lim += n
    }
    false
  }
}

/** Offset = (line, seg, byte) — the global line count across all log
  * segments, plus the (segment index, in-segment byte) of that line so
  * a reader seeks straight to its slice. This is the `(file, pos)`
  * shape of a binlog position generalized over rotation: when the
  * writer rolls to a new segment file (binlog FLUSH/rotate), `seg`
  * advances and `byte` resets, while `line` keeps the total order. */
case class ChangeLogOffset(line: Long, seg: Int, byte: Long)
    extends Offset {
  override def json(): String =
    s"""{"line":$line,"seg":$seg,"byte":$byte}"""
}

object ChangeLogOffset {
  private val Pattern3 =
    """\{"line":(\d+),"seg":(\d+),"byte":(\d+)\}""".r
  private val Pattern2 = """\{"line":(\d+),"byte":(\d+)\}""".r
  def parse(json: String): ChangeLogOffset = json match {
    case Pattern3(l, s, b) => ChangeLogOffset(l.toLong, s.toInt, b.toLong)
    case Pattern2(l, b) => // pre-rotation checkpoint: single segment
      ChangeLogOffset(l.toLong, 0, b.toLong)
    case other => // legacy plain line number
      ChangeLogOffset(other.trim.toLong, 0, -1L)
  }
}

class ChangeLogSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeLogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    def long(key: String) =
      Option(properties.get(key)).map(_.toLong).getOrElse(Long.MaxValue)
    new ChangeLogTable(properties.get("path"), long("maxLinesPerTrigger"),
      Option(properties.get("indexGranularity")).map(_.toInt)
        .getOrElse(ChangeLogSource.DefaultIndexGranularity),
      long("maxOpenLines"))
  }
}

class ChangeLogTable(path: String, maxLinesPerTrigger: Long,
    indexGranularity: Int, maxOpenLines: Long)
    extends Table with SupportsRead {
  require(path != null, "option 'path' is required")
  override def name(): String = s"changelog($path)"
  override def schema(): StructType = ChangeLogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = ChangeLogSource.schema
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new ChangeLogMicroBatchStream(path, maxLinesPerTrigger,
          indexGranularity, maxOpenLines)
    }
}

class ChangeLogMicroBatchStream(path: String, maxLinesPerTrigger: Long,
    indexGranularity: Int = ChangeLogSource.DefaultIndexGranularity,
    maxOpenLines: Long = Long.MaxValue)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  require(indexGranularity > 0, "indexGranularity must be positive")
  require(maxOpenLines >= 0, "maxOpenLines must not be negative")

  // Incremental per-segment SPARSE line index: one anchor byte offset
  // per `indexGranularity` lines (anchors(i) = byte of line i·g), so
  // driver memory is lines/granularity · 16 B — a billion-line segment
  // indexes in ~4 MB instead of the 8 GB a dense per-line index would
  // take. refresh() scans only bytes appended since the last trigger
  // (O(new bytes) per trigger, not O(file)); readers seek to the
  // anchor at or before their read start and skip < granularity lines.
  // Only complete newline-terminated lines are admitted (a partially-
  // flushed tail entry is invisible until its terminator lands —
  // binlog semantics).
  //
  // ROTATION: if `path` is a directory, its files (sorted by name)
  // are the rotated segments of one logical log — the binlog's
  // FLUSH/rotate model. New segments may only be appended after
  // existing ones; a segment stops growing once a later one exists.
  // Historical replay parallelizes across segments (one input
  // partition per segment slice) while the tail stays serial.
  private final class SegmentIndex(val segPath: Path) {
    /** Global line of the segment's first line; set when its scan
      * starts, after every earlier segment is frozen. */
    var base = 0L
    val anchors = mutable.ArrayBuffer[Long](0L)
    /** Global low-water line per anchor: where a reader starting at
      * that anchor must begin folding. */
    val lowWater = mutable.ArrayBuffer.empty[Long]
    /** Connections inside an expired transaction at an anchor (only
      * anchors that have any). */
    val stale = mutable.HashMap.empty[Int, Array[Long]]
    var lines: Long = 0L
    var scannedBytes = 0L
    /** byte length captured when this segment stopped being the tail;
      * a rotated segment growing afterwards would silently renumber
      * every later global line, so it is a hard error (-1 = still
      * the active tail, unfrozen). */
    var frozenLen: Long = -1L
    /** Anchor index at or before an in-segment line. */
    def anchorOf(line: Long): Int =
      math.min(line / indexGranularity, anchors.length - 1L).toInt
    /** (anchor byte, lines to skip from there) for an in-segment line. */
    def seekFor(line: Long): (Long, Long) = {
      val a = anchorOf(line)
      (anchors(a), line - a.toLong * indexGranularity)
    }
  }

  private val segments = mutable.ArrayBuffer[SegmentIndex]()

  // ── the driver's transaction fold: per connection, the line of the
  // open transaction's BEGIN and its mutation count; discards of the
  // lines not yet planned, as (line, kind, mutations) ──
  private final class Open(val beginLine: Long) { var mutations = 0L }
  private val open = mutable.LongMap.empty[Open]
  private val RollbackDiscard = 0
  private val ResetDiscard = 1
  private val AbandonedDiscard = 2
  private val discards = mutable.ArrayDeque.empty[(Long, Int, Long)]

  private def close(conn: Long, line: Long, discard: Int): Unit = {
    val t = open.getOrNull(conn)
    if (t != null) {
      open -= conn
      val kind =
        if (TxPipeline.expired(t.beginLine, line, maxOpenLines)) AbandonedDiscard
        else discard
      if (kind >= 0 && t.mutations > 0) discards += ((line, kind, t.mutations))
    }
  }

  /** Record the low-water line (and stale connections) of the anchor
    * at global `line`, from the fold over every line before it. */
  private def markAnchor(seg: SegmentIndex, line: Long): Unit = {
    var lw = line
    val stale = mutable.ArrayBuilder.make[Long]
    open.foreachEntry { (conn, t) =>
      if (TxPipeline.expired(t.beginLine, line, maxOpenLines)) stale += conn
      else if (t.beginLine < lw) lw = t.beginLine
    }
    val s = stale.result()
    if (s.nonEmpty) seg.stale(seg.lowWater.length) = s
    seg.lowWater += lw
  }

  private def scanNewBytes(fs: org.apache.hadoop.fs.FileSystem,
      seg: SegmentIndex): Unit = {
    if (seg.lowWater.isEmpty) markAnchor(seg, seg.base)
    val len = fs.getFileStatus(seg.segPath).getLen
    if (len <= seg.scannedBytes) return
    val in = fs.open(seg.segPath)
    try {
      in.seek(seg.scannedBytes)
      val from = seg.scannedBytes
      val sc = new LineScanner(in)
      while (sc.nextLine()) {
        val b = sc.buf
        val line = seg.base + seg.lines
        val t1 = ChangeLogSource.tab(b, sc.start, sc.end)
        val conn = ChangeLogSource.parseLong(b, sc.start, t1, 0L)
        val t2 = ChangeLogSource.tab(b, t1 + 1, sc.end)
        val t3 = ChangeLogSource.tab(b, t2 + 1, sc.end)
        ChangeLogSource.kindOf(b, math.min(t2 + 1, sc.end), t3) match {
          case TxPipeline.Begin =>
            close(conn, line, ResetDiscard)
            open(conn) = new Open(line)
          case TxPipeline.Mutation =>
            val t = open.getOrNull(conn)
            if (t != null) t.mutations += 1
          case TxPipeline.Commit => close(conn, line, -1)
          case TxPipeline.Rollback => close(conn, line, RollbackDiscard)
          case _ =>
        }
        seg.lines += 1
        seg.scannedBytes = from + sc.consumed
        if (seg.lines % indexGranularity == 0) {
          seg.anchors += seg.scannedBytes
          markAnchor(seg, seg.base + seg.lines)
        }
      }
    } finally in.close()
  }

  /** Natural name order: digit runs compare as numbers, so an unpadded
    * rotation `log.9` → `log.10` still sorts after (plain lexicographic
    * would order the new segment first and kill the stream on the
    * append-only check). */
  private def naturalLess(a: String, b: String): Boolean = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.charAt(i); val cb = b.charAt(j)
      if (ca.isDigit && cb.isDigit) {
        var i2 = i; while (i2 < a.length && a.charAt(i2).isDigit) i2 += 1
        var j2 = j; while (j2 < b.length && b.charAt(j2).isDigit) j2 += 1
        // strip leading zeros, then compare by length then digits
        var i1 = i; while (i1 < i2 - 1 && a.charAt(i1) == '0') i1 += 1
        var j1 = j; while (j1 < j2 - 1 && b.charAt(j1) == '0') j1 += 1
        val la = i2 - i1; val lb = j2 - j1
        if (la != lb) return la < lb
        var k = 0
        while (k < la) {
          val d = a.charAt(i1 + k) - b.charAt(j1 + k)
          if (d != 0) return d < 0
          k += 1
        }
        i = i2; j = j2
      } else {
        if (ca != cb) return ca < cb
        i += 1; j += 1
      }
    }
    a.length - i < b.length - j
  }

  private def refresh(): Unit = synchronized {
    val root = new Path(path)
    val fs = root.getFileSystem(new Configuration())
    if (!fs.exists(root)) return
    val status = fs.getFileStatus(root)
    val paths: Seq[Path] =
      if (status.isDirectory)
        fs.listStatus(root).filter(_.isFile).map(_.getPath)
          .sortWith((x, y) => naturalLess(x.getName, y.getName)).toSeq
      else Seq(root)
    require(paths.size >= segments.size &&
      segments.zip(paths).forall { case (s, p) => s.segPath == p },
      s"changelog segments must only be appended; known " +
        s"${segments.map(_.segPath.getName)}, found ${paths.map(_.getName)}")
    paths.drop(segments.size).foreach(p => segments += new SegmentIndex(p))
    segments.indices.foreach { i =>
      val seg = segments(i)
      // a new segment starts where the previous one, scanned and frozen
      // just before, ends
      if (i > 0 && seg.lowWater.isEmpty)
        seg.base = segments(i - 1).base + segments(i - 1).lines
      val isTail = i == segments.length - 1
      if (seg.frozenLen >= 0) {
        // rotated segments must not grow: appended bytes would shift
        // every later segment's global line numbers and corrupt
        // checkpointed offsets into replays/skips — fail loudly.
        val len = fs.getFileStatus(seg.segPath).getLen
        require(len == seg.frozenLen,
          s"rotated changelog segment ${seg.segPath.getName} grew after " +
            s"rotation (${seg.frozenLen} -> $len bytes); rotated segments " +
            "are immutable")
      } else {
        scanNewBytes(fs, seg)
        // freeze at the real byte length, not scannedBytes: a rotated
        // segment may end without a trailing newline and those bytes
        // are (correctly) never admitted, but they aren't growth
        if (!isTail) seg.frozenLen = fs.getFileStatus(seg.segPath).getLen
      }
    }
  }

  private def totalLines: Long = segments.iterator.map(_.lines).sum

  /** Index of the segment holding global `line` (the last segment for
    * the log end). */
  private def segmentOf(line: Long): Int = {
    var i = 0
    while (i < segments.length - 1 &&
        line >= segments(i).base + segments(i).lines) i += 1
    i
  }

  /** Offset fields (seg, byte) for a global line position: the anchor
    * at or before the line in its segment (readers skip the remainder;
    * the byte is informational for humans and direct seeks). */
  private def positionOf(line: Long): (Int, Long) = {
    if (segments.isEmpty) return (0, 0L)
    val i = segmentOf(line)
    val s = segments(i)
    (i, s.seekFor(math.min(line - s.base, s.lines))._1)
  }

  private def endOffset: ChangeLogOffset = {
    val t = totalLines
    val (seg, byte) = positionOf(t)
    ChangeLogOffset(t, seg, byte)
  }

  // Trigger.AvailableNow snapshots the end position up front and drains
  // to it in rate-limited batches
  private var availableNowTarget: Option[ChangeLogOffset] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    refresh()
    availableNowTarget = Some(endOffset)
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxLinesPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxLinesPerTrigger)

  override def initialOffset(): Offset = ChangeLogOffset(0L, 0, 0L)

  /** Admission-controlled advance: at most `limit` lines past `start`,
    * never past the (possibly snapshotted) end of the log. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    refresh()
    val end = availableNowTarget.getOrElse(endOffset)
    val s = start.asInstanceOf[ChangeLogOffset]
    val cappedLine = limit match {
      case mr: ReadMaxRows => math.min(end.line, s.line + mr.maxRows())
      case _ => end.line
    }
    if (cappedLine <= s.line) s
    else {
      val (seg, byte) = positionOf(cappedLine)
      ChangeLogOffset(cappedLine, seg, byte)
    }
  }

  override def latestOffset(): Offset = { refresh(); endOffset }

  override def reportLatestOffset(): Offset = { refresh(); endOffset }

  override def deserializeOffset(json: String): Offset =
    ChangeLogOffset.parse(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** The latest planned batch: its end line, the lines its readers
    * re-read below their slices, and its discards by kind. */
  private var lastBatch: Option[(Long, Long, Array[Long])] = None

  /** One partition per segment slice — a multi-segment backlog replays
    * in parallel (each reader seeks within its own files); within a
    * single segment the slice stays one serial partition (total order
    * at the tail, SURVEY §7.5). A partition reads from its slice's
    * low-water line, which may lie in an earlier segment. */
  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = synchronized {
    val s = start.asInstanceOf[ChangeLogOffset]
    val e = end.asInstanceOf[ChangeLogOffset]
    if (e.line <= s.line) return Array.empty
    refresh() // idempotent; rebuilds the index after a restart
    val parts = Array.newBuilder[InputPartition]
    var reRead = 0L
    segments.indices.foreach { k =>
      val seg = segments(k)
      val sliceStart = math.max(s.line, seg.base)
      val sliceEnd = math.min(e.line, seg.base + seg.lines)
      if (sliceEnd > sliceStart) {
        val a = seg.anchorOf(sliceStart - seg.base)
        val readFrom = seg.lowWater(a)
        val reads = (segmentOf(readFrom) to k).map { i =>
          val si = segments(i)
          val from = math.max(readFrom - si.base, 0L)
          val until = if (i == k) sliceEnd - si.base else si.lines
          val (byte, skip) = si.seekFor(from)
          SegmentRead(si.segPath.toString, byte, skip, until - from)
        }.filter(_.lines > 0)
        reRead += sliceStart - readFrom
        parts += ChangeLogInputPartition(reads, readFrom, sliceStart,
          sliceEnd, seg.stale.getOrElse(a, Array.empty[Long]), maxOpenLines)
      }
    }
    // no later batch starts below this one: older discards are done
    while (discards.nonEmpty && discards.head._1 < s.line)
      discards.removeHead()
    val counts = new Array[Long](3)
    discards.foreach { case (line, kind, n) =>
      if (line < e.line) counts(kind) += n }
    lastBatch = Some((e.line, reRead, counts))
    parts.result()
  }

  /** Exact byte position of global `line` (scans at most one anchor
    * stride). */
  private def byteOf(line: Long): Long = {
    val seg = segments(segmentOf(line))
    val in0 = line - seg.base
    if (in0 >= seg.lines) return seg.scannedBytes
    val (anchor, skip) = seg.seekFor(in0)
    if (skip == 0) return anchor
    val fs = seg.segPath.getFileSystem(new Configuration())
    val in = fs.open(seg.segPath)
    try {
      in.seek(anchor)
      val sc = new LineScanner(in)
      var n = 0L
      while (n < skip && sc.nextLine()) n += 1
      anchor + sc.consumed
    } finally in.close()
  }

  override def metrics(latestConsumedOffset: util.Optional[Offset])
      : util.Map[String, String] = synchronized {
    val m = new util.HashMap[String, String]()
    if (latestConsumedOffset.isPresent && segments.nonEmpty) {
      val end = latestConsumedOffset.get() match {
        case o: ChangeLogOffset => o
        case o => ChangeLogOffset.parse(o.json())
      }
      val (reRead, counts) = lastBatch match {
        case Some((line, r, c)) if line == end.line => (r, c)
        case _ => (0L, new Array[Long](3))
      }
      val logBytes = segments.iterator.map(_.scannedBytes).sum
      val endBytes = segments.take(segmentOf(end.line)).map(_.scannedBytes)
        .sum + byteOf(end.line)
      Seq(totalLines - end.line, logBytes - endBytes, reRead,
        counts(RollbackDiscard), counts(ResetDiscard),
        counts(AbandonedDiscard))
        .zip(ChangeLogSource.MetricKeys)
        .foreach { case (v, k) => m.put(k, v.toString) }
    }
    m
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) =>
      new ChangeLogPartitionReader(
        partition.asInstanceOf[ChangeLogInputPartition])
}

/** `lines` lines of one segment file from `byte`, after skipping `skip`
  * lines there. */
case class SegmentRead(path: String, byte: Long, skip: Long, lines: Long)

/** A batch slice `[startLine, endLine)` (global lines) and where its
  * reader begins folding: global line `readFrom`, read through `reads`.
  * `stale` are the connections inside an expired transaction at
  * `readFrom`. */
case class ChangeLogInputPartition(reads: Seq[SegmentRead], readFrom: Long,
    startLine: Long, endLine: Long, stale: Array[Long], maxOpenLines: Long)
    extends InputPartition

/** Folds lines `[readFrom, endLine)` of the log through
  * `TxPipeline.step` per connection and yields the committed mutations
  * whose emitting line (COMMIT, or the non-tx mutation itself) lies in
  * `[startLine, endLine)` — the row-materialization step (S5) at the
  * source. Fields are cut from the line bytes: only escaped fields go
  * through a String. */
class ChangeLogPartitionReader(p: ChangeLogInputPartition)
    extends PartitionReader[InternalRow] {
  import ChangeLogSource.{parseLong, tab}

  private val conns = mutable.LongMap.empty[OpenTx[GenericInternalRow]]
  p.stale.foreach(c => conns(c) = TxPipeline.abandoned)

  private var reads = p.reads.toList
  private var in: InputStream = _
  private var sc: LineScanner = _
  private var left = 0L
  private var line = p.readFrom
  private val out = new util.ArrayDeque[InternalRow]()
  private var current: InternalRow = _

  private var lastId: String = _
  private var lastIdUtf: UTF8String = _
  private val emit: (GenericInternalRow, String, Long) => Unit =
    (row, id, ts) => if (line >= p.startLine) {
      if (id ne lastId) { lastId = id; lastIdUtf = UTF8String.fromString(id) }
      row.update(2, lastIdUtf)
      row.setLong(5, ts)
      out.add(row)
    }

  /** Opens the next segment read; false when none is left. */
  private def openNext(): Boolean = {
    if (in != null) { in.close(); in = null }
    reads match {
      case Nil => false
      case r :: rest =>
        reads = rest
        val path = new Path(r.path)
        val s = path.getFileSystem(new Configuration()).open(path)
        s.seek(r.byte)
        in = s
        sc = new LineScanner(s)
        var k = 0L
        while (k < r.skip && sc.nextLine()) k += 1
        left = r.lines
        true
    }
  }

  private def str(b: Array[Byte], from: Int, to: Int): UTF8String =
    if (to - from == 2 && b(from) == '\\' && b(from + 1) == 'N') null
    else {
      var i = from
      while (i < to && b(i) != '\\') i += 1
      if (i == to) UTF8String.fromBytes(util.Arrays.copyOfRange(b, from, to))
      else UTF8String.fromString(ChangeLogSource.unescape(
        new String(b, from, to - from, StandardCharsets.UTF_8)))
    }

  /** Folds the next line; false at the end of the reads. */
  private def foldLine(): Boolean = {
    while (left == 0) if (!openNext()) return false
    if (!sc.nextLine()) return false
    left -= 1
    val b = sc.buf
    val end = sc.end
    val t1 = tab(b, sc.start, end)
    val t2 = tab(b, t1 + 1, end)
    val t3 = tab(b, t2 + 1, end)
    val t4 = tab(b, t3 + 1, end)
    val t5 = tab(b, t4 + 1, end)
    val t6 = tab(b, t5 + 1, end)
    if (t6 >= end) throw new IllegalArgumentException(
      s"malformed change-log line $line: " +
        new String(b, sc.start, end - sc.start, StandardCharsets.UTF_8))
    val conn = parseLong(b, sc.start, t1, 0L)
    val seq = parseLong(b, t1 + 1, t2, 0L)
    val kind = ChangeLogSource.kindOf(b, t2 + 1, t3)
    val ts = parseLong(b, t5 + 1, t6, 0L)
    val row =
      if (kind != TxPipeline.Mutation) null
      else {
        val value = str(b, t6 + 1, end)
        new GenericInternalRow(Array[Any](conn, seq, null, str(b, t3 + 1, t4),
          str(b, t4 + 1, t5), 0L,
          if (value == null) ChangeLogPartitionReader.EmptyPayload
          else new ArrayBasedMapData(ChangeLogPartitionReader.ValueKey,
            new GenericArrayData(Array[Any](value)))))
      }
    val st = conns.getOrElse(conn, TxPipeline.closed)
    conns(conn) = TxPipeline.step(st, conn, kind, seq, line, ts, row,
      p.maxOpenLines)(emit)
    line += 1
    true
  }

  override def next(): Boolean = {
    while (out.isEmpty) {
      if (line >= p.endLine || !foldLine()) return false
    }
    current = out.poll()
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (in != null) in.close()
}

object ChangeLogPartitionReader {
  /** Payload map keys: a present value rides under `value`. */
  private val ValueKey = new GenericArrayData(
    Array[Any](UTF8String.fromString("value")))
  private val EmptyPayload = new ArrayBasedMapData(
    new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))
}
