package graft.streaming

import graft.sources.ChangeLogSourceProvider
import graft.streaming.TxPipeline.TxMutation
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Config-driven pipe assembly (SURVEY.md §2.6 E2, §3.1): the
  * reference's `PipeRunner` wires consumer → tx-grouping → filter →
  * producer from Typesafe config via reflection
  * (`PipeRunner.scala:17-56,62-187`). The Spark shape is a declarative
  * builder over a plain key→value map — no reflection (a documented
  * delta: class-name plugin loading trades static safety for dynamism
  * the Spark engine doesn't need; custom stages are function values).
  *
  * Recognized keys:
  *   source.path               change-log file (ChangeLogSource TSV)
  *   source.maxLinesPerTrigger admission cap per micro-batch
  *   filter.condition          SQL predicate on each COMMITTED
  *                             mutation (F1): the TxMutation columns
  *                             plus the event names `kind` (always
  *                             'mutation'), `ts_us` (the commit
  *                             timestamp) and `value` (the payload
  *                             value). Grouping runs first: the
  *                             predicate never sees a BEGIN or COMMIT,
  *                             so it cannot split a transaction
  *   filter.scalaCondition     Scala source for a `(conn: Long,
  *                             kind: String, op: String, pk: String)
  *                             => Boolean` — the reference's compiled
  *                             `include-event-condition`
  *                             (`Eval.scala:6-13`, wired at
  *                             `ConfigBasedPipeFactory`); compiled
  *                             once per JVM via [[graft.util.Eval]]
  *                             and applied AFTER the SQL filter (SQL
  *                             stays the pushdown-visible path; this
  *                             hook covers conditions SQL can't say);
  *                             `kind` is always "mutation"
  *   tx.maxOpenLines           abandoned-transaction bound in log
  *                             lines: a transaction whose COMMIT is
  *                             more than this many lines after its
  *                             BEGIN is discarded (default unbounded,
  *                             the reference's wait-forever)
  *   sink.format               parquet | console | kafka | materialize
  *                             (materialize = latest-image upsert
  *                             journal via StreamOps.latestImagesOf)
  *   sink.path                 parquet sink directory
  *   sink.checkpoint           checkpoint dir (position repo, T5)
  *   sink.triggerSeconds       processing-time trigger (flush interval,
  *                             T8; reference default 10 s)
  *   sink.topicTemplate        kafka topic template with `${column}`
  *                             placeholders (reference KafkaUtil
  *                             topic naming, e.g. db_table_generic)
  *   sink.bootstrapServers     kafka bootstrap servers
  *   profile                   named knob bundle; `low-latency` applies
  *                             [[PipeAssembly.LowLatencyProfile]]
  *                             (explicit keys still win)
  *   session.shufflePartitions shuffle/state partition count of this
  *                             pipe's query only (the shared session
  *                             keeps its own value); only the
  *                             `materialize` sink has state or a
  *                             shuffle to size
  *   sink.kafkaAsyncProgress   `true` → asyncProgressTrackingEnabled on
  *                             the kafka writer (non-exactly-once)
  */
object PipeAssembly {

  val Defaults: Map[String, String] = Map(
    "source.maxLinesPerTrigger" -> Long.MaxValue.toString,
    "filter.condition" -> "true",
    "tx.maxOpenLines" -> Long.MaxValue.toString,
    "sink.format" -> "parquet",
    "sink.triggerSeconds" -> "10",
    "sink.topicTemplate" -> "changelog_${conn}_generic",
    "sink.bootstrapServers" -> "localhost:9092")

  /** `profile = low-latency`: the measured latency frontier packaged
    * as config, for tail-follow consumers where trigger-to-commit
    * beats throughput. The 2048-line cap halves per-trigger admission
    * latency against the 4096 cell of the frontier grid
    * (FRONTIER.json, measured when tx grouping still ran on a
    * RocksDB state store: 2 partitions × 2048 lines at p50 273 ms /
    * p95 324 vs 306/375 for 4 × 4096). The 2-way state width now
    * sizes only the `materialize` sink's latest-image state; the tx
    * pipe itself has none. Zero trigger interval (next batch fires
    * immediately), async progress tracking on the KAFKA sink only
    * (takes offset/commit WAL writes off the critical path; Spark
    * forbids it for the durable parquet path, which keeps synchronous
    * exactly-once offsets). Explicit config keys win over profile
    * values. */
  val LowLatencyProfile: Map[String, String] = Map(
    "source.maxLinesPerTrigger" -> "2048",
    "sink.triggerSeconds" -> "0",
    "session.shufflePartitions" -> "2",
    "sink.kafkaAsyncProgress" -> "true")

  /** Defaults ++ named profile ++ explicit config (rightmost wins). */
  def effectiveConfig(config: Map[String, String])
      : Map[String, String] = {
    require(!config.contains("tx.timeoutMs"), "tx.timeoutMs is gone: " +
      "abandoned transactions are bounded in log lines by tx.maxOpenLines")
    val prof = config.get("profile") match {
      case Some("low-latency") => LowLatencyProfile
      case Some(other) =>
        throw new IllegalArgumentException(
          s"unknown profile: $other (supported: low-latency)")
      case None => Map.empty[String, String]
    }
    Defaults ++ prof ++ config
  }

  /** The source's committed, tx-stamped mutations for a config:
    * [[graft.sources.ChangeLogSource]] groups transactions in its
    * reader, so no state store or shuffle stands between the log and
    * a sink. */
  def events(spark: SparkSession, config: Map[String, String])
      : Dataset[TxMutation] = {
    val conf = effectiveConfig(config)
    import TxPipeline.mutationEnc
    spark.readStream
      .format(classOf[ChangeLogSourceProvider].getName)
      .option("path", conf("source.path"))
      .option("maxLinesPerTrigger", conf("source.maxLinesPerTrigger"))
      .option("maxOpenLines", conf("tx.maxOpenLines"))
      .load()
      .as[TxMutation]
  }

  /** The event-column names a `filter.condition` may still use. */
  private val EventColumns = Map(
    "kind" -> lit("mutation"), "ts_us" -> col("commitTsUs"),
    "value" -> col("payload").getItem("value"))

  /** The committed mutation stream for a config, after its filters
    * (shared by every sink format). A NULL op or pk reaches the sinks
    * as an empty string. */
  def mutations(spark: SparkSession, config: Map[String, String])
      : Dataset[TxMutation] = {
    val conf = effectiveConfig(config)
    import TxPipeline.mutationEnc
    val base = events(spark, config).toDF()
      .withColumns(EventColumns)
      .filter(expr(conf("filter.condition")))
      .select(col("conn"), col("seq"), col("txid"),
        coalesce(col("op"), lit("")).as("op"),
        coalesce(col("pk"), lit("")).as("pk"),
        col("commitTsUs"), col("payload"))
      .as[TxMutation]
    conf.get("filter.scalaCondition") match {
      case None => base
      case Some(src) =>
        // TRUST BOUNDARY: this compiles and executes config-supplied
        // Scala on the driver AND every executor (deliberate parity
        // with the reference's include-event-condition Eval —
        // mypipe-api Pipe config). Pipe configs carrying
        // scalaCondition are CODE and must come from the same trust
        // domain as the deployed jars — never from tenant/user input.
        // Untrusted callers get filter.condition (SQL, no codegen
        // escape) instead.
        //
        // the SOURCE STRING is the closure's serialized form: each
        // JVM (driver and every executor) compiles it once through
        // Eval.compiled's cache — a ToolBox closure itself would not
        // survive serialization (class bytes live in the driver's
        // in-memory loader)
        base.filter(m =>
          graft.util.Eval.compiled[(Long, String, String, String)
            => Boolean](src)(m.conn, "mutation", m.op, m.pk))
    }
  }

  private def trigger(conf: Map[String, String],
      availableNow: Boolean): Trigger =
    if (availableNow) Trigger.AvailableNow()
    else Trigger.ProcessingTime(s"${conf("sink.triggerSeconds")} seconds")

  /** The configured-but-unstarted Kafka writer for a config — exposed
    * separately because starting it needs a broker + connector jar that
    * a sandbox lacks, while the wiring (topic template → topic column,
    * framed Avro value, checkpointing, trigger) is the contract. */
  def kafkaWriter(spark: SparkSession, config: Map[String, String],
      registry: graft.avro.SchemaRepo,
      availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val conf = effectiveConfig(config)
    val w = CdcStream.toKafkaSink(mutations(spark, config), registry,
      conf("sink.topicTemplate"), conf("sink.bootstrapServers"),
      conf("sink.checkpoint"), trigger(conf, availableNow))
    // async progress tracking (low-latency profile): offset/commit WAL
    // writes leave the critical path — Spark supports this for the
    // kafka sink only, and the trade is exactly-once offsets (replay
    // possible on failure); the durable parquet path keeps synchronous
    // offsets deliberately
    if (conf.get("sink.kafkaAsyncProgress").contains("true"))
      w.option("asyncProgressTrackingEnabled", "true")
    else w
  }

  /** Assemble and start the full pipe: committed-only source →
    * skip-filter → checkpointed sink, format-routed per `sink.format`
    * (E2: the reference's producer plugin slot). */
  def start(spark: SparkSession, config: Map[String, String],
      availableNow: Boolean = false,
      registry: graft.avro.SchemaRepo = new graft.avro.SchemaRegistry)
      : StreamingQuery = {
    val conf = effectiveConfig(config)
    // state sizing (the materialize sink's latest-image state) must
    // land BEFORE the query starts: the stateful operator's partition
    // count pins at the first batch and lives in the checkpoint from
    // then on. A streaming query runs on a clone
    // of the session taken when it is constructed
    // (`StreamExecution.sparkSessionForStream`), so the value is set
    // only around construction and the shared session gets its
    // previous value back: later queries, and sibling pipes without
    // the key, keep the session default.
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.getAll.get(partsKey)
    val parts = conf.get("session.shufflePartitions")
    parts.foreach(spark.conf.set(partsKey, _))
    try startWith(spark, conf, config, availableNow, registry)
    finally if (parts.isDefined)
      prevParts.fold(spark.conf.unset(partsKey))(spark.conf.set(partsKey, _))
  }

  private def startWith(spark: SparkSession, conf: Map[String, String],
      config: Map[String, String], availableNow: Boolean,
      registry: graft.avro.SchemaRepo): StreamingQuery = {
    val ms = mutations(spark, config)
    val trg = trigger(conf, availableNow)
    conf("sink.format") match {
      case "parquet" =>
        CdcStream.toParquetSink(ms, conf("sink.path"),
          conf("sink.checkpoint"), trg)
      case "console" => // reference StdoutProducer analog
        ms.writeStream.format("console")
          .option("checkpointLocation", conf("sink.checkpoint"))
          .outputMode("append").trigger(trg).start()
      case "kafka" =>
        kafkaWriter(spark, config, registry, availableNow).start()
      case "materialize" =>
        // continuously-maintained latest-image view (the reference's
        // end goal — a queryable replica): one emission per true image
        // advance, appended to the sink as an upsert journal whose
        // last record per pk IS the current image
        StreamOps.latestImagesOf(ms)
          .writeStream.format("parquet")
          .option("path", conf("sink.path"))
          .option("checkpointLocation", conf("sink.checkpoint"))
          .outputMode("append").trigger(trg).start()
      case other =>
        throw new IllegalArgumentException(s"unknown sink.format: $other")
    }
  }

  // ── multi-pipe runner (VERDICT r15 item 4) ──────────────────────────
  /** Split ONE flat config into per-pipe config maps — the reference's
    * `mypipe.pipes` block (`PipeRunner.scala:17-56` builds producers,
    * consumers and pipes maps from one Typesafe config): keys shaped
    * `pipes.<name>.<key> = value` group by `<name>`; keys without the
    * prefix are shared defaults every pipe inherits (a pipe's own key
    * wins). */
  def pipeConfigs(flat: Map[String, String])
      : Map[String, Map[String, String]] = {
    val (pipeKeys, shared) = flat.partition(_._1.startsWith("pipes."))
    val perPipe = pipeKeys.toSeq
      .map { case (k, v) =>
        val rest = k.stripPrefix("pipes.")
        val dot = rest.indexOf('.')
        require(dot > 0, s"pipe key must be pipes.<name>.<key>: $k")
        (rest.substring(0, dot), rest.substring(dot + 1), v)
      }
      .groupBy(_._1)
      .map { case (name, kvs) =>
        name -> kvs.map(t => t._2 -> t._3).toMap
      }
    perPipe.map { case (name, own) => name -> (shared ++ own) }
  }

  /** Start every configured pipe as its own [[StreamingQuery]] in one
    * session — the reference `PipeRunner`'s `main()` shape
    * (`PipeRunner.scala:62-93`: N pipes wired from one config, run
    * concurrently, each with its own position repo). Spark equivalence:
    * each pipe is an independent query with its OWN checkpoint
    * (positions never shared, even over one changelog source — the
    * source is a file, so N readers don't contend), its own sink, and
    * independent lifecycle: one pipe failing does not stop the others
    * (`Pipe.scala:97-109` restarts a failed pipe's consumer without
    * touching its siblings; here the caller restarts via a fresh
    * [[start]] against the surviving checkpoint). A pipe whose
    * ASSEMBLY fails (bad config) surfaces as a `Left(error)` so the
    * remaining pipes still start — matching the reference's
    * quit-on-error=false default.
    *
    * `session.shufflePartitions` sets the state width of its own
    * pipe's query only (stateful partitioning pins at first batch per
    * checkpoint), so two `materialize` pipes can run different state
    * widths in one session and a pipe without the key runs with the
    * session default. */
  def startAll(spark: SparkSession,
      flat: Map[String, String],
      availableNow: Boolean = false,
      registry: graft.avro.SchemaRepo = new graft.avro.SchemaRegistry)
      : Map[String, Either[Throwable, StreamingQuery]] =
    pipeConfigs(flat).toSeq.sortBy(_._1).map { case (name, conf) =>
      name -> (try Right(start(spark, conf, availableNow, registry))
               catch { case e: Throwable => Left(e) })
    }.toMap
}
