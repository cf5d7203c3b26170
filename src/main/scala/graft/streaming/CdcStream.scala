package graft.streaming

import graft.avro.SchemaRepo
import graft.functions.Envelope
import graft.model.Cdc
import graft.streaming.TxPipeline.TxMutation
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Streaming pipe sinks: committed mutations → sink, with the
  * reference's positioning and flush semantics mapped onto Structured
  * Streaming (SURVEY.md §2.4 T5–T9, §3.1).
  *
  *  - T5/T6 position repo → `checkpointLocation` (offsets+commits on any
  *    Hadoop FS); the reference's "don't save position mid-tx" rule is
  *    the committed-only source re-reading an open transaction from its
  *    BEGIN.
  *  - T8 periodic flush (`flush-interval-seconds = 10`, reference
  *    Pipe.scala:56-59) → `Trigger.ProcessingTime("10 seconds")`.
  *  - T9 snapshot→stream handoff (reference MySQLSnapshotter.scala:
  *    245-247) → batch-write the snapshot, record the boundary position,
  *    stream only changes past it into the same sink.
  */
object CdcStream {

  val DefaultTrigger: Trigger = Trigger.ProcessingTime("10 seconds")

  /** Committed mutations → append-only parquet sink with checkpointed
    * offsets (the Kafka sink stand-in in this sandbox). */
  def toParquetSink(mutations: Dataset[TxMutation], sinkDir: String,
      checkpointDir: String, trigger: Trigger = DefaultTrigger)
      : StreamingQuery =
    mutations.writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .start()

  // ── Kafka-shaped sink (the reference's primary output contract) ─────

  /** Avro wire schema for a committed mutation — the generic record the
    * Kafka value carries (reference KafkaMutationAvroProducer.scala:
    * 61-77 publishes the framed Avro mutation per topic). */
  val txMutationSchemaJson: String =
    """{"type":"record","name":"TxMutation","namespace":"graft.avro",
      |"fields":[
      |  {"name":"conn","type":"long"},
      |  {"name":"seq","type":"long"},
      |  {"name":"txid","type":["null","string"],"default":null},
      |  {"name":"op","type":["null","string"],"default":null},
      |  {"name":"pk","type":["null","string"],"default":null},
      |  {"name":"commitTsUs","type":"long"},
      |  {"name":"payload","type":{"type":"map","values":"string"},"default":{}}
      |]}""".stripMargin

  /** Runtime-compiled topic template (reference KafkaUtil.scala:7-27):
    * `${column}` placeholders become column refs, everything else is
    * literal — e.g. `"changelog_${conn}_generic"`. */
  def topicColumn(template: String): Column = {
    val ph = """\$\{([A-Za-z0-9_]+)\}""".r
    val parts = scala.collection.mutable.ArrayBuffer.empty[Column]
    var last = 0
    ph.findAllMatchIn(template).foreach { m =>
      if (m.start > last) parts += lit(template.substring(last, m.start))
      parts += col(m.group(1)).cast("string")
      last = m.end
    }
    if (last < template.length) parts += lit(template.substring(last))
    if (parts.isEmpty) lit(template) else concat(parts.toSeq: _*)
  }

  /** Kafka message projection: (topic, key, value) — topic from the
    * template, key = pk (partition affinity per row identity), value =
    * the framed Avro envelope (MAGIC|MTYPE|SCHEMA_ID|payload). This is
    * exactly the frame the reference's consumers decode; mtype mirrors
    * the reference's mutation magic bytes. */
  def kafkaFrame(mutations: Dataset[TxMutation], registry: SchemaRepo,
      topicTemplate: String): DataFrame = {
    val schemaId =
      registry.register("generic_txmutation", txMutationSchemaJson)
    mutations.toDF()
      .select(
        topicColumn(topicTemplate).as("topic"),
        col("pk").cast("string").as("key"),
        Envelope.seal(Cdc.mtypeOf(col("op")), lit(schemaId),
          struct(col("conn"), col("seq"), col("txid"), col("op"),
            col("pk"), col("commitTsUs"), col("payload")),
          txMutationSchemaJson).as("value"))
  }

  /** Fully configured Kafka DataStreamWriter — the caller starts it.
    * (This sandbox has no broker or kafka connector jar; the message
    * projection and writer wiring are the testable contract, and they
    * are what a deployment points at a real cluster.) */
  def toKafkaSink(mutations: Dataset[TxMutation], registry: SchemaRepo,
      topicTemplate: String, bootstrapServers: String,
      checkpointDir: String, trigger: Trigger = DefaultTrigger)
      : DataStreamWriter[Row] =
    kafkaFrame(mutations, registry, topicTemplate).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)

  /** T9 snapshot→stream handoff: bulk-write the snapshot, capture the
    * boundary position (max change-stream position at snapshot time ≙
    * `SHOW MASTER STATUS`), and return it: the live stream resumes
    * with positions strictly past it (`seq > boundary`). */
  def snapshotBoundary(snapshot: DataFrame, sinkDir: String,
      positionCol: String): Long = {
    snapshot.write.mode("overwrite").parquet(sinkDir)
    maxPosition(snapshot, positionCol)
  }

  /** The largest position in `df`; Long.MinValue when it is empty. */
  private def maxPosition(df: DataFrame, positionCol: String): Long =
    df.agg(max(col(positionCol))).collect().head match {
      case r if r.isNullAt(0) => Long.MinValue
      case r => r.getLong(0)
    }

  /** Make a captured boundary durable and return it. An empty snapshot's
    * Long.MinValue sentinel persists as 0 (positions are non-negative on
    * the wire): both mean "replay from the start". */
  private def saveBoundary(repo: PositionRepository, consumerId: String,
      logName: String, boundary: Long): Long = {
    repo.save(consumerId, BinlogPosition(logName, math.max(boundary, 0L)))
    boundary
  }

  /** Full T9 handoff with the boundary made durable: snapshot → sink,
    * boundary position → the [[PositionRepository]] (reference
    * MySQLSnapshotter.scala:245-247 records `SHOW MASTER STATUS` so a
    * later consumer starts exactly past the snapshot). Returns the
    * boundary; a restart loads it back instead of re-snapshotting. */
  def snapshotHandoff(snapshot: DataFrame, sinkDir: String,
      positionCol: String, repo: PositionRepository,
      consumerId: String, logName: String = "changelog"): Long = {
    saveBoundary(repo, consumerId, logName,
      snapshotBoundary(snapshot, sinkDir, positionCol))
  }

  // ── with-transaction snapshot variant ───────────────────────────────
  /** The consistent table view AT a captured position: latest image per
    * pk over changes with position ≤ `boundary`; pks whose latest
    * change is a delete (per `opCol`) are absent. Changes past the
    * boundary are invisible no matter when the view is EXECUTED — the
    * REPEATABLE READ property as a predicate. */
  def consistentViewAt(changes: DataFrame, positionCol: String,
      pkCols: Seq[String], boundary: Long,
      opCol: Option[String] = Some("op")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(pkCols.map(col): _*)
      .orderBy(col(positionCol).desc)
    val latest = changes
      .filter(col(positionCol) <= boundary)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    // null-safe: the wire format round-trips NULL op (ChangeLogSource's
    // \N sentinel); a plain =!= would evaluate to NULL on such rows and
    // silently DROP the pk from the snapshot — data loss, not a style
    // point. Only a literal "delete" removes a pk from the view.
    opCol.fold(latest)(o => latest.filter(!(col(o) <=> lit("delete"))))
  }

  /** With-transaction snapshot handoff (reference
    * MySQLSnapshotter.scala:249-258: `SET TRANSACTION ISOLATION LEVEL
    * REPEATABLE READ` → `FLUSH TABLES WITH READ LOCK` → `SHOW MASTER
    * STATUS` → `UNLOCK TABLES` → table selects → `COMMIT` — capture the
    * position while locked, then read a consistent view that predates
    * any concurrent write).
    *
    * An append-only totally-ordered change log gives the same guarantee
    * WITHOUT a lock: (1) capture `boundary` = the log's current end —
    * the readLock+showMasterStatus step; (2) snapshot the consistent
    * view pinned to `≤ boundary` — the repeatable-read selects. `table`
    * is call-by-need and read FRESH for each step (as the reference's
    * two queries each see the live table): mutations that land between
    * the two reads are filtered out of the view by the boundary pin, so
    * position and data are ATOMICALLY consistent and resuming at
    * `boundary + 1` is both lossless and duplicate-free. The no-txn
    * variant ([[snapshotHandoff]]) derives its boundary from whatever
    * data the write happened to read, so its replay is exactly-once
    * only because latest-image apply is idempotent. */
  def snapshotHandoffWithTxn(table: () => DataFrame, sinkDir: String,
      positionCol: String, pkCols: Seq[String],
      repo: PositionRepository, consumerId: String,
      logName: String = "changelog",
      opCol: Option[String] = Some("op")): Long = {
    // step 1 — position capture (readLock + showMasterStatus analog)
    val boundary = maxPosition(table(), positionCol)
    // step 2 — repeatable-read selects: a FRESH read, possibly already
    // grown past the boundary; the ≤ boundary pin restores the view
    consistentViewAt(table(), positionCol, pkCols, boundary, opCol)
      .write.mode("overwrite").parquet(sinkDir)
    saveBoundary(repo, consumerId, logName, boundary)
  }
}
