package graft.functions

import graft.{QueryModule, QuerySpec}
import graft.avro.{AvroSubjects, SchemaRegistry}
import graft.sources.ChangeFeed
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The wire envelope (SURVEY.md §2.3 P1–P5, P12; §2.2 F3/F4).
  *
  * Frame layout (reference `mypipe-kafka/src/main/scala/mypipe/kafka/
  * package.scala:5-24`): `MAGIC(1B) | MTYPE(1B) | SCHEMA_ID(2B BE) |
  * AVRO_PAYLOAD`. [[seal]] writes the header and the Avro payload in
  * one compiled pass (`EnvelopeExpr`, whose [[AvroBuffer]] holds the
  * only header writer); consumer-side slicing is built-ins (substring
  * / conv). [[seal]] writes and [[open]] reads every frame; nothing
  * else knows the layout.
  */
object Envelope extends QueryModule {

  val Magic: Int = 0

  /** Generic mutation record schema v1 (mirrors the shape of reference
    * mypipe-avro/src/main/avro/mutations.avsc: headers + typed maps;
    * null cells are simply absent from the maps — F3). */
  val genericSchemaV1: String =
    """{"type":"record","name":"GenericMutation","namespace":"graft.avro",
      |"fields":[
      |  {"name":"database","type":"string"},
      |  {"name":"tbl","type":"string"},
      |  {"name":"table_id","type":"int"},
      |  {"name":"pk","type":["null","string"],"default":null},
      |  {"name":"integers","type":{"type":"map","values":"int"},"default":{}},
      |  {"name":"strings","type":{"type":"map","values":"string"},"default":{}},
      |  {"name":"longs","type":{"type":"map","values":"long"},"default":{}}
      |]}""".stripMargin

  /** Spark-side struct matching [[genericSchemaV1]]. */
  val genericStructV1: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("tbl", StringType),
    StructField("table_id", IntegerType),
    StructField("pk", StringType),
    StructField("integers", MapType(StringType, IntegerType)),
    StructField("strings", MapType(StringType, StringType)),
    StructField("longs", MapType(StringType, LongType))))

  // ── P1: columns → typed-maps projection ─────────────────────────────
  /** Group payload cells into per-type maps with null omission (F3) and
    * Int→Long coercion for long-typed columns (reference
    * KafkaGenericAvroSerializer.scala:70-116). Pure built-ins:
    * map_filter drops null cells exactly like the reference's
    * `value != null` guard. */
  def genericRecord(feed: DataFrame): DataFrame =
    feed.withColumn("record", struct(
      col("database"), col("tbl"), col("table_id"), col("pk"),
      map_filter(
        map(lit("table_id"), col("table_id")),
        (_, v) => v.isNotNull).as("integers"),
      map_filter(
        map(lit("event_type"), col("event_type")),
        (_, v) => v.isNotNull).as("strings"),
      map_filter(
        map(lit("event_id"), col("event_id").cast("long"),
          lit("user_id"), col("user_id").cast("long")),
        (_, v) => v.isNotNull).as("longs")))

  // ── P5: binary envelope framing ─────────────────────────────────────
  /** MAGIC | MTYPE | SCHEMA_ID(2B BE) | payload, for a payload that is
    * already bytes (raw or garbage frames in tests). The header goes
    * through the same writer as [[seal]]'s. Widths are enforced: an
    * mtype ≥ 256 or schema id ≥ 65536 would not fit its field, so
    * out-of-range headers fail the query instead. */
  def frame(mtype: Column, schemaId: Column, payload: Column): Column =
    AvroCodec.envelope(mtype, schemaId, payload, null)

  /** The producer side of the wire: `record` encoded under
    * `writerJson` and framed with its header, in one pass into one
    * per-task buffer. Every frame graft writes goes through here. */
  def seal(mtype: Column, schemaId: Column, record: Column,
      writerJson: String): Column =
    AvroCodec.envelope(mtype, schemaId, record, writerJson)

  // ── P12: envelope slicing (consumer side) ───────────────────────────
  def sliceMagic(env: Column): Column =
    conv(hex(substring(env, 1, 1)), 16, 10).cast("int")
  def sliceMtype(env: Column): Column =
    conv(hex(substring(env, 2, 1)), 16, 10).cast("int")
  def sliceSchemaId(env: Column): Column =
    conv(hex(substring(env, 3, 2)), 16, 10).cast("int")
  /** Payload slice: the binary substring past the 4-byte header. */
  def slicePayload(env: Column): Column =
    env.substr(lit(5), length(env) - 4)

  /** Consumer-side frame guard: an envelope is well-formed iff it is
    * long enough to hold the 4-byte header and leads with the MAGIC
    * byte. Truncated or foreign-format messages must be filtered (or
    * dead-lettered) BEFORE slicing — substring on a short binary
    * yields silent garbage, not an error. */
  def wellFormed(env: Column): Column =
    length(env) >= 5 && sliceMagic(env) === lit(Magic)

  /** The consumer side of the wire (reference `KafkaAvroDecoder` /
    * `AvroVersionedRecordDeserializer.scala:38-47`): check the frame,
    * read its schema id, look up the writer schema among `versions`
    * and decode into the `readerJson` shape `as`. Every frame graft
    * reads goes through here.
    *
    * The CASE chain is plan-side, one branch per DISTINCT writer
    * schema (the three generic op subjects share one record schema and
    * so one branch), exactly like the reference's id→deserializer
    * cache: no per-row registry lookups. A writer equal to the reader
    * decodes without resolution; any other writer resolves into the
    * reader (writer-absent fields take the reader's defaults,
    * reader-absent fields are skipped, int promotes to long). An id
    * not in `versions` (so every id, for an empty list), and an
    * ill-formed frame, give NULL. `lenient = true` also maps a payload
    * that fails to decode to NULL (the consumer's skip-undecodable
    * contract); strict decode rethrows. */
  def open(env: Column, versions: Seq[(Int, String)], readerJson: String,
      as: StructType, lenient: Boolean): Column = {
    val none = lit(null).cast(as)
    val sid = sliceSchemaId(env)
    val byWriter = versions.groupBy(_._2).toSeq.sortBy(_._2.head._1)
    // The frame check guards the decode INSIDE the case expression
    // rather than as a standalone Filter: a Filter over the aliasing
    // Project gets pushed through the alias by Catalyst and, when the
    // envelope itself is computed upstream in the same plan (the
    // benchmark round trip; any producer→consumer pipeline fused into
    // one job), re-evaluates the whole encode chain per row just to
    // test length+magic. CaseWhen is lazy, so strict decode never sees
    // an ill-formed frame.
    when(wellFormed(env), byWriter.foldLeft(none) {
      case (acc, (writerJson, ids)) =>
        when(sid.isInCollection(ids.map(_._1)),
          AvroCodec.decode(slicePayload(env), readerJson, as, writerJson,
            lenient))
          .otherwise(acc)
    }).otherwise(none)
  }

  // ── F4: schema-compat validation ────────────────────────────────────
  /** A mutation is serializable iff every row column has a matching
    * schema field (reference KafkaSpecificAvroSerializer.scala:44-53;
    * retry-with-refreshed-schema at KafkaAvroSerializer.scala:47-55).
    * Driver-side check against the registry's latest version; caller
    * re-invokes after an ALTER registers the new version (T7). */
  def compatible(schemaJson: String, rowFields: Seq[String]): Boolean = {
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    rowFields.forall(f => schema.getField(f) != null)
  }

  /** Full producer-side pipeline: feed → generic record → avro → framed
    * envelope, with the schema id resolved from the registry per the
    * mutation's subject. Returns (envelope bytes, topic) — the Kafka
    * message shape (value, topic). */
  def serialize(feed: DataFrame, registry: SchemaRegistry): DataFrame = {
    // one schema id per op subject, resolved driver-side (tiny map),
    // joined in as a literal CASE — no shuffle
    val ids = GenericOps.map { op =>
      op -> registry.register(AvroSubjects.generic(op), genericSchemaV1)
    }.toMap
    val schemaIdCol = ids.foldLeft(lit(null).cast("int")) {
      case (acc, (op, id)) => when(col("op") === op, lit(id)).otherwise(acc)
    }
    genericRecord(feed)
      .withColumn("schema_id", schemaIdCol)
      .withColumn("envelope", seal(col("mtype"), col("schema_id"),
        col("record"), genericSchemaV1))
      .withColumn("topic",
        concat_ws("_", col("database"), col("tbl"), lit("generic")))
  }

  /** The generic mutation ops — ONE list shared by [[serialize]] and
    * [[deserialize]]: an op added to one side but not the other would
    * silently fall through the decode dispatch to NULL. */
  val GenericOps: Seq[String] = Seq("insert", "update", "delete")

  /** Consumer-side decode of [[serialize]]'s output through [[open]].
    * Ill-formed frames (truncated, wrong magic) are dropped — the
    * reference's consumer skips undecodable messages rather than dying
    * on them.
    *
    * The consumer is PINNED to this build's record shape
    * ([[genericStructV1]], reader = [[genericSchemaV1]] — the reader
    * schema and the output struct must agree, or resolved fields would
    * silently project to NULL); writer schemas dispatch on the
    * envelope's embedded id across every registered generic version.
    * Records framed under an id the registry does not know (so every
    * record, when it knows none), or whose bytes fail Avro resolution,
    * decode to NULL and are dropped per the reference contract. */
  def deserialize(envelopes: DataFrame, registry: SchemaRegistry): DataFrame = {
    val versions = GenericOps
      .flatMap(op => registry.versionsOf(AvroSubjects.generic(op)))
    val decoded = open(col("envelope"), versions, genericSchemaV1,
      genericStructV1, lenient = true)
    // skip-undecodable: ill-formed frames, unknown ids and failed
    // decodes drop rather than flowing null structs downstream. The
    // drop is a Generate over a one-element array, not a Filter:
    // Filter(isnotnull(decoded)) over the aliasing Project gets pushed
    // through the alias by Catalyst and re-evaluates the whole
    // (CodegenFallback, so never CSE'd) decode chain a second time per
    // row — measured 2.2× on the p5 round trip.
    envelopes
      .withColumn("magic", sliceMagic(col("envelope")))
      .withColumn("mtype_decoded", sliceMtype(col("envelope")))
      .withColumn("schema_id_decoded", sliceSchemaId(col("envelope")))
      .withColumn("payload", slicePayload(col("envelope")))
      .withColumn("decoded", explode(array_compact(array(decoded))))
  }

  // ── P5+P12 oracle query: full round trip ────────────────────────────
  /** Encode → frame → slice → decode → project scalars. The oracle is a
    * plain SELECT of the same fields from the feed — if any byte of the
    * envelope or any codec rule were wrong, values would not survive the
    * round trip. */
  def p5EnvelopeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val registry = new SchemaRegistry
    // widen (r16): the Avro encode→decode chain is CPU-per-row and the
    // events scan plans single-task at bench scale — about 0.8 s of
    // one task at sf0.1 with the compiled encoder. On 4 cores the one
    // task was faster (1.07 s warm against 1.36 s widened); the widen
    // stays for many-core hosts, where that was not re-measured
    val enveloped = serialize(
      graft.util.Par.widen(ChangeFeed.fromEvents(spark, dir)), registry)
    deserialize(enveloped, registry).select(
      col("event_id"),
      col("magic"), col("mtype_decoded"),
      col("decoded.database").as("database"),
      col("decoded.tbl").as("tbl"),
      col("decoded.table_id").as("table_id"),
      col("decoded.pk").as("pk"),
      element_at(col("decoded.strings"), "event_type").as("event_type_rt"),
      element_at(col("decoded.longs"), "user_id").as("user_id_rt"),
      col("topic"))
      .orderBy("event_id")
  }

  val p5Sql: String =
    s"""WITH feed AS (${ChangeFeed.feedSql})
       |SELECT event_id, 0 AS magic, CAST(mtype AS INT) AS mtype_decoded,
       |  database, tbl, table_id, pk,
       |  event_type AS event_type_rt, user_id AS user_id_rt,
       |  concat_ws('_', database, tbl, 'generic') AS topic
       |FROM feed ORDER BY event_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p5_envelope_roundtrip", p5EnvelopeRoundtrip, p5Sql))
}
