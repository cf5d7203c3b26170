package graft

import graft.util.HostSteal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query profiling tool: cost attribution the bench's single wall
  * number can't give — how many JOBS (actions), STAGES (shuffle
  * boundaries × retries) and TASKS a query costs, and how the wall
  * splits between DataFrame CONSTRUCTION (where the iterative kernels
  * run their loops; its jobs are `buildJobs`), optimization, physical
  * planning and the final count action, with the size of each plan
  * tree. Methodology matches Bench: warm-up, then cold + warm runs per
  * query on the shared [[GraftSession]], same groupBy().count() action.
  *
  *   sbt "runMain graft.Profile SFDIR q1,q2,... [reps]"
  *
  * Output (stderr): one line per query per run:
  *   [prof] <name> run=<n> total=… build=… optimize=… plan=… act=…
  *     jobs=… buildJobs=… stages=… tasks=… taskSec=… steal=…
  *     nodes=<analyzed>/<optimized>/<physical> rows=…
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.get()
    GraftSession.tuneForData(spark, dir)
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    try {
      spark.read.parquet(s"$dir/lineitem.parquet").count()
      spark.read.parquet(s"$dir/documents.parquet").count()
    } catch { case _: Throwable => }
    // plan nodes plus the expression nodes they carry; an adaptive
    // plan counts its final plan, query stages included
    def size(p: QueryPlan[_]): Long = p match {
      case a: AdaptiveSparkPlanExec => size(a.executedPlan)
      case q: QueryStageExec => size(q.plan)
      case _ =>
        var n = 1L
        p.expressions.foreach(_.foreach(_ => n += 1))
        n + p.children.map(c => size(c.asInstanceOf[QueryPlan[_]])).sum
    }
    def sec(t0: Long, t1: Long) = (t1 - t0) / 1e9
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[prof] unknown query: $n")
        case Some(fn) =>
          (1 to reps).foreach { rep =>
            // settle listener events from the previous run
            Thread.sleep(150)
            jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
            val st0 = HostSteal.jiffies()
            val t0 = System.nanoTime()
            val df = fn(spark, dir)
            val t1 = System.nanoTime()
            Thread.sleep(150) // untimed: settle the construction's jobs
            val buildJobs = jobs.get
            val counted = df.groupBy().count()
            val qe = counted.queryExecution
            val t2 = System.nanoTime()
            val opt = qe.optimizedPlan
            val t3 = System.nanoTime()
            val phys = qe.executedPlan
            val t4 = System.nanoTime()
            val cnt = counted.collect()(0).getLong(0)
            val t5 = System.nanoTime()
            Thread.sleep(150)
            val total = sec(t0, t1) + sec(t2, t5)
            System.err.println(
              f"[prof] $n run=$rep total=$total%.3f " +
                f"build=${sec(t0, t1)}%.3f optimize=${sec(t2, t3)}%.3f " +
                f"plan=${sec(t3, t4)}%.3f act=${sec(t4, t5)}%.3f " +
                s"jobs=${jobs.get} buildJobs=$buildJobs " +
                s"stages=${stages.get} tasks=${tasks.get} " +
                s"taskSec=${taskMs.get / 1000.0} " +
                f"steal=${HostSteal.secondsSince(st0)}%.2f " +
                s"nodes=${size(qe.analyzed)}/${size(opt)}/${size(phys)} " +
                s"rows=$cnt")
            try graft.util.Caches.releaseAll(spark, blocking = true)
            catch { case _: Throwable => }
          }
      }
    }
    spark.stop()
  }
}
