package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.jdk.CollectionConverters._

/** In-memory spans around the benchmark's own calls into the engine's
  * layers. A span has a name, the layer it is charged to, start and end
  * (ns since the recorder started), its parent and the operation id it
  * belongs to. Spans nest per thread. Nothing is recorded when the
  * recorder is off, so an untraced run pays one branch per call. */
final class Trace(val on: Boolean) {
  case class Span(id: Long, parent: Long, op: String, name: String,
      layer: String, start: Long, end: Long)

  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](op: String, name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val s = System.nanoTime() - t0
      try body
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, op, name, layer, s, System.nanoTime() - t0))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def toJson: String = all.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"name":${
      Json.str(s.name)},"layer":${Json.str(s.layer)},"start_ns":${s.start
      },"end_ns":${s.end}}""").mkString("[", ",\n", "]")
}

/** Spark scheduler counters per benchmark operation. Operations are
  * told apart by the `graftbench.op` local property (inherited by the
  * threads an operation starts, the streaming thread included) and
  * phases by `graftbench.phase`. */
final class OpListener extends SparkListener {
  import OpListener._
  /** Cumulative counters of one operation, indexed by [[OpListener]]'s
    * `Jobs` .. `SchedWaitMs`. */
  final class Counts { val v: Array[AtomicLong] = Array.fill(10)(new AtomicLong) }
  val byOp = new java.util.concurrent.ConcurrentHashMap[String, Counts]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def counts(op: String) = byOp.computeIfAbsent(op, _ => new Counts)

  /** Counter sums over `ops`, at this moment. */
  def snapshot(ops: Seq[String]): Array[Long] = {
    val out = new Array[Long](10)
    ops.flatMap(o => Option(byOp.get(o))).foreach(c =>
      c.v.indices.foreach(i => out(i) += c.v(i).get()))
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpListener.OpKey)))
    op.foreach { o =>
      val c = counts(o).v
      c(Jobs).incrementAndGet()
      if (props.flatMap(p => Option(p.getProperty(OpListener.PhaseKey)))
          .contains("construct")) c(EagerJobs).incrementAndGet()
      e.stageIds.foreach(s => stageOp.put(s, o))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmit.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op == null) return
    val c = counts(op).v
    c(Tasks).incrementAndGet()
    val info = e.taskInfo
    val sub = stageSubmit.get(e.stageId)
    if (info != null && sub != 0L)
      c(SchedWaitMs).addAndGet(math.max(0L, info.launchTime - sub))
    val m = e.taskMetrics
    if (m != null) {
      c(TaskMs).addAndGet(m.executorRunTime)
      c(CpuNs).addAndGet(m.executorCpuTime)
      c(GcMs).addAndGet(m.jvmGCTime)
      c(ShuffleRead).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(ShuffleWrite).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(Spill).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

object OpListener {
  val Jobs = 0; val EagerJobs = 1; val Tasks = 2; val TaskMs = 3
  val CpuNs = 4; val GcMs = 5; val ShuffleRead = 6; val ShuffleWrite = 7
  val Spill = 8; val SchedWaitMs = 9

  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  def setOp(sc: SparkContext, op: String): Unit = sc.setLocalProperty(OpKey, op)
  def setPhase(sc: SparkContext, phase: String): Unit =
    sc.setLocalProperty(PhaseKey, phase)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
