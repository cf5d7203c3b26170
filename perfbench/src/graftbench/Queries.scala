package graftbench

import graft.SparkEntry
import graft.util.Caches
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** The two batch-query workloads over the generated sf0.1 tables:
  * `train_build` (a serial pass over training-data operators, each paying
  * its model and index builds) and `serve_mix` (four closed-loop clients,
  * one FAIR pool each, over short relational and CDC-analytics queries). */
object Queries {
  val Train: Seq[String] = Seq("dd_minhash_groups", "sim_neardup_groups",
    "sim_knn_graph", "sim_ivf_ann", "cd_merge_apply")
  val TrainTables = Set("documents", "embeddings", "events")
  val TrainWarmLaps = 2
  val Serve: Seq[String] = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q6_forecast_revenue", "q12_shipping_delay", "q14_promo_effect",
    "t9_latest_image", "cd_merge_apply", "j3_bloom_semi")
  val ServeTables = Set("customer", "events", "lineitem", "orders", "part")
  /** Untimed concurrent warm-up before the serve window. */
  val ServeWarmSeconds = 8.0
  val Clients = 4

  /** Order-independent result hash over the columns sorted by name: row
    * count plus the sums of the two 32-bit halves of each row's xxhash64.
    * Map-typed columns hash through their JSON form. */
  def hashAgg(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols: Seq[Column] = fields.toSeq.map { case (f, i) =>
      if (hasMap(f.dataType)) to_json(struct(col(s"c$i")))
      else col(s"c$i")
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    pos.agg(count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)).as("lo"),
      coalesce(sum(shiftright(h, 32)), lit(0L)).as("hi"))
  }

  def hashString(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"

  /** The engine package (layer) a query's builder lives in. */
  def layerOf(name: String): String =
    SparkEntry.queries(name).getClass.getName.split('.') match {
      case Array("graft", pkg, _*) if pkg.headOption.exists(_.isLower) => pkg
      case _ => "graft"
    }

  /** A query's phase times and its wall, timed on its own around the
    * whole call. */
  final case class Phases(construct: Double, optimize: Double, plan: Double,
      execute: Double, wall: Double) {
    /** The share of the wall the four phases do not cover. */
    def gap: Double = math.abs(wall - (construct + optimize + plan + execute)) / wall
  }
  /** Largest [[Phases.gap]] accepted without a note. */
  val MaxPhaseGap = 0.05

  /** Construct, optimize, plan and execute one query; returns its phase
    * times and result hash. */
  def runOne(ctx: Ctx, name: String, dataDir: String, op: String)
      : (Phases, String) = ctx.withOp(op) {
    val t0 = System.nanoTime()
    val layer = layerOf(name)
    def timed[T](phase: String, l: String)(body: => T): (T, Double) = {
      ctx.phase(phase)
      val t0 = System.nanoTime()
      val v = ctx.span(op, phase, l)(body)
      (v, (System.nanoTime() - t0) / 1e9)
    }
    ctx.span(op, name, "harness") {
      val (agg, c) = timed("construct", layer) {
        hashAgg(SparkEntry.queries(name)(ctx.spark, dataDir))
      }
      val (_, o) = timed("optimize", "spark.plan") {
        agg.queryExecution.optimizedPlan
      }
      val (_, p) = timed("plan", "spark.plan") {
        agg.queryExecution.executedPlan
      }
      val (row, e) = timed("execute", "spark.exec") { agg.collect()(0) }
      val h = hashString(row)
      (Phases(c, o, p, e, (System.nanoTime() - t0) / 1e9), h)
    }
  }

  private def check(ctx: Ctx, name: String, got: String): Unit = {
    ctx.attempted += 1
    if (!ctx.refs.get(name).contains(got))
      ctx.fail(s"$name result hash $got, reference ${ctx.refs.getOrElse(name, "none")}")
  }

  /** Per-query phase sums and scheduler counters into the layer metrics. */
  private def queryMetrics(ctx: Ctx, phases: Seq[Phases], ops: Seq[String],
      wallS: Double, memo0: (Long, Long)): Unit = {
    ctx.layer("query.construct_s") = phases.map(_.construct).sum
    ctx.layer("query.optimize_s") = phases.map(_.optimize).sum
    ctx.layer("query.plan_s") = phases.map(_.plan).sum
    ctx.layer("query.execute_s") = phases.map(_.execute).sum
    // the phases must account for each query's separately timed wall
    val gap = phases.map(_.gap).max
    ctx.layer("query.phase_gap_max") = gap
    if (gap > MaxPhaseGap)
      ctx.note(f"phases cover ${(1 - gap) * 100}%.1f%% of a query's wall, below ${(1 - MaxPhaseGap) * 100}%.0f%%")
    ctx.listenerMetrics(ops, wallS)
    val (g1, b1) = Caches.memoStats
    ctx.layer("memo.gets") = g1 - memo0._1
    ctx.layer("memo.builds") = b1 - memo0._2
  }

  private def setupData(ctx: Ctx, tables: Set[String]): String = {
    val dir = new java.io.File(ctx.work, "data").getPath
    TableGen.write(ctx.spark, dir, tables)
    graft.GraftSession.tuneForData(ctx.spark, dir)
    dir
  }

  def train(ctx: Ctx): Unit = {
    val dir = setupData(ctx, TrainTables)
    val rng = new scala.util.Random(ctx.seed)
    def fresh(): Unit = {
      Caches.invalidateAllMemos()
      // a blocking release can lose a race with clearCache's asynchronous
      // removal of the same block ("Block rdd_N does not exist"); like
      // graft.Bench, report it and go on
      try Caches.releaseAll(ctx.spark, blocking = true)
      catch { case e: org.apache.spark.SparkException =>
        ctx.note(s"Caches.releaseAll failed: ${e.getMessage}") }
    }
    ctx.info("tables written")
    // warm-up: untimed laps (code generation, JIT, first file scans); after
    // one lap the next two still ran ~10% faster each
    (0 until TrainWarmLaps).foreach { w =>
      Train.foreach { n => fresh(); check(ctx, n, runOne(ctx, n, dir, s"warm$w-$n")._2) }
    }
    ctx.info("warm-up done")
    val phases = mutable.ArrayBuffer.empty[Phases]
    val ops = mutable.ArrayBuffer.empty[String]
    var laps = 0
    var wall = 0.0
    val memo0 = Caches.memoStats
    ctx.measure { deadline =>
      while (laps == 0 || System.nanoTime() < deadline) {
        rng.shuffle(Train).foreach { n =>
          fresh()
          val op = s"lap$laps-$n"
          val (ph, h) = runOne(ctx, n, dir, op)
          check(ctx, n, h)
          ctx.info(f"$n%s ${ph.wall}%.2f s")
          phases += ph; ops += op; wall += ph.wall
        }
        laps += 1
      }
    }
    // each query's wall is its median over the laps, so one slow sample
    // (a host-steal burst) moves neither the lap nor the typical query
    val perQuery = ops.zip(phases).groupBy(_._1.split("-", 2)(1)).values
      .map(xs => Stats.median(xs.map(_._2.wall).toSeq)).toSeq
    ctx.e2e("throughput_per_s") = Train.size / perQuery.sum
    ctx.e2e("latency_ms") = Stats.geomean(perQuery) * 1000
    if (ctx.trace.on) {
      // per lap: the metrics are sums over one pass of the list
      queryMetrics(ctx, phases.toSeq, ops.toSeq, wall, memo0)
      ctx.scaleLayer(Seq("query.", "memo."), 1.0 / laps)
    }
  }

  def serve(ctx: Ctx): Unit = {
    val dir = setupData(ctx, ServeTables)
    ctx.info("tables written")
    val sc = ctx.spark.sparkContext
    // (op, started at ns, phases, result hash)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Phases, String)]()
    val memo0 = Caches.memoStats
    // the clients start at once; the first ServeWarmSeconds are the
    // warm-up, and only queries started inside the window are measured
    @volatile var stopAt = Long.MaxValue
    // one seeded order, each client starting a quarter further into it,
    // so any window covers the whole mix about equally
    val order = new scala.util.Random(ctx.seed).shuffle(Serve)
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        sc.setLocalProperty("spark.scheduler.pool", s"serve$c")
        var i = 0
        while (System.nanoTime() < stopAt) {
          val n = order((i + c * order.size / Clients) % order.size)
          val op = s"c$c-$i-$n"
          val t0 = System.nanoTime()
          val (ph, h) = runOne(ctx, n, dir, op)
          done.add((op, t0, ph, h))
          i += 1
        }
      }, s"graftbench-client-$c")
      t.start(); t
    }
    Thread.sleep((ServeWarmSeconds * 1000).toLong)
    var m0 = 0L
    var wall = 0.0
    ctx.measure { deadline =>
      m0 = System.nanoTime()
      stopAt = deadline
      threads.foreach(_.join())
      wall = (System.nanoTime() - m0) / 1e9
    }
    import scala.jdk.CollectionConverters._
    val all = done.asScala.toSeq
    all.foreach { case (op, _, _, h) => check(ctx, op.split("-", 3)(2), h) }
    val timed = all.filter(_._2 >= m0)
    val lat = timed.map(_._3.wall)
    ctx.e2e("throughput_per_s") = timed.size / wall
    ctx.e2e("latency_ms") = Stats.median(lat) * 1000
    ctx.e2e("latency_p90_ms") = Stats.quantile(lat, 0.9) * 1000
    if (ctx.trace.on)
      queryMetrics(ctx, timed.map(_._3), timed.map(_._1), wall, memo0)
  }

  /** Result hashes of every query both workloads run, from the live
    * query and, when given, from a `graft.Verify` output directory (the
    * DuckDB-checked parquet): `refs <dataDir> [verifyOut]`. */
  def refs(spark: SparkSession, dataDir: String, verified: Option[String]): String = {
    graft.GraftSession.tuneForData(spark, dataDir)
    (Train ++ Serve).distinct.sorted.map { n =>
      Caches.invalidateAllMemos()
      Caches.releaseAll(spark, blocking = true)
      val live = hashString(hashAgg(SparkEntry.queries(n)(spark, dataDir))
        .collect()(0))
      verified.foreach { v =>
        val f = hashString(hashAgg(spark.read.parquet(s"$v/$n")).collect()(0))
        require(f == live, s"$n: live hash $live, verified output hash $f")
      }
      s"    ${Json.str(n)}: ${Json.str(live)}"
    }.mkString("{\n", ",\n", "\n  }")
  }
}
