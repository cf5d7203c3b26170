package graft

import graft.avro.{AvroSubjects, CachingSchemaRepoClient, HttpSchemaRepo,
  SchemaRegistry, SchemaRepoHttp}
import graft.functions.{AvroCodec, Envelope}
import graft.sources.ChangeLogSource
import graft.streaming.{CdcStream, PipeAssembly, TxPipeline}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Mid-stream ALTER schema evolution driven through a RUNNING pipe —
  * the reference's `KafkaAlterSpec` scenario (`mypipe-kafka/src/test/
  * scala/mypipe/kafka/KafkaAlterSpec.scala:54-94`: add `email` while
  * the pipeline runs, decode v2 records without a restart), with the
  * schema repository reached over a real loopback HTTP wire so the
  * consumer's flush-on-miss retry exercises the full transport. */
class AlterEvolutionSpec extends SparkSpec {

  private def specificSchema(fields: Seq[String]): String = {
    val fs = fields.map(f =>
      s"""{"name":"$f","type":["null","string"],"default":null}""")
    s"""{"type":"record","name":"user_insert","namespace":"graft.testdb",""" +
      s""""fields":[${fs.mkString(",")}]}"""
  }

  test("T7 end-to-end: ALTER mid-stream; generic absorbs, specific re-resolves; no restart") {
    val backing = new SchemaRegistry
    val server = SchemaRepoHttp.serve(backing)
    try {
      val url = SchemaRepoHttp.baseUrl(server)
      val producerRepo = new HttpSchemaRepo(url)
      val subj = AvroSubjects.specific("testdb", "user", "insert")

      // producer startup: specific v1 on the wire (reference producers
      // register per-table schemas before publishing)
      val v1 = specificSchema(Seq("id", "name"))
      val specificIdV1 = producerRepo.register(subj, v1)

      // the running pipe: change log → committed mutations → framed
      // Avro values (the kafka VALUE projection) → memory sink,
      // processing-time trigger — this is PipeAssembly's kafka route
      // minus the broker. Each log row carries its column image as a
      // JSON object in `value`, unpacked into the generic payload map.
      val sparkS = spark
      import sparkS.implicits._
      val log = tempFile("alterlog", ".tsv")
      def logRow(seq: Long, pk: String, ts: Long,
          image: Map[String, String]): Unit =
        java.nio.file.Files.write(log, (ChangeLogSource.renderLine(1, seq,
          "mutation", "insert", pk, ts, image.map { case (k, v) =>
            s""""$k":"$v"""" }.mkString("{", ",", "}")) + "\n")
          .getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
      val committed = PipeAssembly.events(spark,
          Map("source.path" -> log.toString))
        .withColumn("payload", from_json(col("payload").getItem("value"),
          MapType(StringType, StringType)))
        .as[TxPipeline.TxMutation]
      val framed = CdcStream.kafkaFrame(committed, producerRepo,
        "changelog_${conn}_generic")
      val chk = tempDir("alterchk").toString
      val q = framed.writeStream.format("memory").queryName("alter_pipe")
        .option("checkpointLocation", chk)
        .trigger(Trigger.ProcessingTime("1 second")).start()
      try {
        // consumer side: caching client over the SAME wire, primed on v1
        val consumer = new CachingSchemaRepoClient(new HttpSchemaRepo(url))
        assert(consumer.schemaById(specificIdV1) === Some(v1))

        // phase 1: schema-v1 mutations
        logRow(1, "u1", 100L, Map("id" -> "7", "name" -> "alice"))
        q.processAllAvailable()
        val genericVersionsBefore = backing.versionCount("generic_txmutation")
        assert(genericVersionsBefore === 1)

        // phase 2: ALTER TABLE testdb.user ADD COLUMN email lands while
        // the query RUNS — the driver-side handler registers specific
        // v2 out-of-band (T7); the pipe itself is not touched
        val v2 = specificSchema(Seq("id", "name", "email"))
        val specificIdV2 = producerRepo.register(subj, v2)
        assert(specificIdV2 !== specificIdV1)
        logRow(2, "u2", 200L, Map("id" -> "8", "name" -> "bob",
          "email" -> "bob@example.com"))
        q.processAllAvailable()
        assert(q.isActive && q.exception.isEmpty,
          "the pipe must absorb the ALTER without restarting")

        // generic path: the envelope schema is map-typed, so the new
        // column is just another map entry — NO version bump, and both
        // generations decode with the SAME writer schema id
        assert(backing.versionCount("generic_txmutation") === 1,
          "generic subject must not version on ALTER")
        val st = StructType(Seq(
          StructField("conn", LongType), StructField("seq", LongType),
          StructField("txid", StringType), StructField("op", StringType),
          StructField("pk", StringType), StructField("commitTsUs", LongType),
          StructField("payload", MapType(StringType, StringType))))
        val decoded = spark.table("alter_pipe")
          .withColumn("sid", Envelope.sliceSchemaId(col("value")))
          .withColumn("d", Envelope.open(col("value"),
            backing.versionsOf("generic_txmutation"),
            CdcStream.txMutationSchemaJson, st, lenient = false))
          .select(col("sid"), col("d.pk").as("pk"),
            col("d.payload").as("payload"))
          .collect().map(r => r.getAs[String]("pk") -> r).toMap
        assert(decoded.keySet === Set("u1", "u2"))
        assert(decoded("u1").getAs[Int]("sid") ===
          decoded("u2").getAs[Int]("sid"), "one generic schema id for both")
        val p1 = decoded("u1").getAs[Map[String, String]]("payload")
        val p2 = decoded("u2").getAs[Map[String, String]]("payload")
        assert(!p1.contains("email") && p2("email") === "bob@example.com",
          "post-ALTER column arrives as a new map entry")

        // specific path: the consumer's snapshot predates the ALTER, so
        // v2's id misses → one flush + one HTTP re-fetch resolves it
        // (reference KafkaAvroDecoder.scala:61-64 retry dance)
        assert(consumer.cachedSchemaById(specificIdV2) === None,
          "pre-ALTER snapshot must miss the v2 id")
        val resolved = CachingSchemaRepoClient
          .resolveWithRetry(consumer, specificIdV2)
        assert(resolved === Some(v2))
        assert(consumer.flushes === 1)

        // and the re-resolved v2 schema decodes a v2 record, email included
        val v2st = StructType(Seq(StructField("id", StringType),
          StructField("name", StringType), StructField("email", StringType)))
        val row = Seq(("8", "bob", "bob@example.com"))
          .toDF("id", "name", "email")
          .select(AvroCodec.encode(
            struct(col("id"), col("name"), col("email")), v2).as("env"))
          .select(AvroCodec.decode(col("env"), resolved.get, v2st).as("d"))
          .select("d.id", "d.name", "d.email").collect().head
        assert(row.getString(2) === "bob@example.com")
      } finally q.stop()
    } finally server.stop(0)
  }

  test("versioned decode: v1-written records resolve into the v2 reader shape") {
    // the reference's AvroVersionedRecordDeserializer scenario: a
    // stream holds records framed under BOTH pre- and post-ALTER
    // schemas; the consumer decodes every record into the latest shape
    // by dispatching writer schemas on the embedded id (schema
    // resolution fills writer-absent fields with reader defaults)
    val sparkS = spark
    import sparkS.implicits._
    val reg = new SchemaRegistry
    val subj = AvroSubjects.specific("testdb", "user", "insert")
    val v1 = specificSchema(Seq("id", "name"))
    val v2 = specificSchema(Seq("id", "name", "email"))
    val id1 = reg.register(subj, v1)
    val id2 = reg.register(subj, v2)
    val v1st = StructType(Seq(StructField("id", StringType),
      StructField("name", StringType)))
    val v2st = StructType(Seq(StructField("id", StringType),
      StructField("name", StringType), StructField("email", StringType)))

    def rows(sid1: Int, sid2: Int) = {
      val oldRec = Seq(("1", "alice")).toDF("id", "name")
        .select(Envelope.seal(lit(1), lit(sid1),
          struct(col("id"), col("name")), v1).as("envelope"))
      val newRec = Seq(("2", "bob", "bob@example.com"))
        .toDF("id", "name", "email")
        .select(Envelope.seal(lit(1), lit(sid2),
          struct(col("id"), col("name"), col("email")), v2).as("envelope"))
      oldRec.unionByName(newRec)
    }
    val stream = rows(id1, id2)

    // consumer pinned to latest (v2): v1 rows surface email = NULL
    val versions = reg.versionsOf(subj)
    val up = stream.select(
      Envelope.open(col("envelope"), versions, v2, v2st, lenient = false)
        .as("d"))
      .select(col("d.id").as("id"), col("d.name").as("name"),
        col("d.email").as("email"))
      .orderBy("id").collect()
    assert(up.map(_.getString(0)).toSeq === Seq("1", "2"))
    assert(up(0).isNullAt(2), "v1-written row takes the reader default")
    assert(up(1).getString(2) === "bob@example.com")

    // and the narrowing direction: a v1-pinned consumer skips the
    // writer's extra field instead of erroring
    val down = stream.select(
      Envelope.open(col("envelope"), versions, v1, v1st, lenient = false)
        .as("d"))
      .select(col("d.id").as("id"), col("d.name").as("name"))
      .orderBy("id").collect()
    assert(down.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("1", "alice"), ("2", "bob")))

    // unknown id → NULL row (the skip-undecodable consumer contract)
    val unknown = rows(9999, 9999).select(
      Envelope.open(col("envelope"), versions, v2, v2st, lenient = false)
        .as("d")).collect()
    assert(unknown.forall(_.isNullAt(0)))
  }

  test("T7 v3: a WIDENING type change (INT -> BIGINT) lands mid-stream; " +
    "writer-by-id decode promotes old frames, no restart") {
    // reference KafkaAlterSpec's scenario extended to a TYPE change:
    // `ALTER TABLE ... MODIFY o_custkey BIGINT` registers v3; frames
    // written before the ALTER carry Avro int, frames after carry
    // long, and the v3-pinned consumer resolves both via Avro schema
    // promotion — the rule that makes widening ALTERs restart-free
    def custSchema(custType: String): String =
      s"""{"type":"record","name":"orders_insert",""" +
        s""""namespace":"graft.testdb","fields":[""" +
        s"""{"name":"k","type":["null","long"],"default":null},""" +
        s"""{"name":"cust","type":["null","$custType"],"default":null}]}"""
    val sparkS = spark
    import sparkS.implicits._
    val reg = new SchemaRegistry
    val subj = AvroSubjects.specific("testdb", "orders", "insert")
    val v2 = custSchema("int")
    val idV2 = reg.register(subj, v2)
    val v2st = StructType(Seq(StructField("k", LongType),
      StructField("cust", IntegerType)))
    val v3st = StructType(Seq(StructField("k", LongType),
      StructField("cust", LongType)))

    // a RUNNING pipe carrying framed specific records to a memory sink
    val input = MemoryStream[(Long, Long, Int)](spark)
    val chk = tempDir("widechk").toString
    // frames are built with the schema id the PRODUCER held when it
    // wrote the row (carried per-row here, as on a real binlog: the
    // ALTER point is a position in the stream)
    def framed = input.toDF().toDF("k", "cust", "sid")
      .withColumn("envelope",
        when(col("sid") === idV2, Envelope.seal(lit(1), col("sid"),
          struct(col("k"), col("cust").cast("int").as("cust")), v2))
        .otherwise(Envelope.seal(lit(1), col("sid"),
          struct(col("k"), col("cust").cast("long").as("cust")),
          custSchema("long"))))
      .select("envelope")
    val q = framed.writeStream.format("memory").queryName("widen_pipe")
      .option("checkpointLocation", chk)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      // phase 1: pre-ALTER traffic under the narrow writer
      input.addData((10L, 42L, idV2))
      q.processAllAvailable()
      // phase 2: the widening ALTER registers v3 while the pipe RUNS;
      // post-ALTER traffic carries a value past the int range — the
      // cell the narrow schema could not even represent
      val v3 = custSchema("long")
      val idV3 = reg.register(subj, v3)
      assert(idV3 !== idV2)
      input.addData((11L, 5000000000L, idV3))
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty,
        "the pipe must absorb the type-changing ALTER without restart")

      // consumer pinned to the WIDE v3 reader: writer-by-id dispatch
      // promotes the v2 int frame, reads the v3 long frame directly
      val versions = reg.versionsOf(subj)
      val out = spark.table("widen_pipe")
        .withColumn("sid", Envelope.sliceSchemaId(col("envelope")))
        .withColumn("d", Envelope.open(col("envelope"), versions, v3, v3st,
          lenient = false))
        .select(col("sid"), col("d.k").as("k"), col("d.cust").as("cust"))
        .orderBy("k").collect()
      assert(out.map(_.getAs[Long]("k")).toSeq === Seq(10L, 11L))
      assert(out(0).getAs[Int]("sid") === idV2)
      assert(out(0).getAs[Long]("cust") === 42L,
        "narrow-written frame must promote int -> long exactly")
      assert(out(1).getAs[Int]("sid") === idV3)
      assert(out(1).getAs[Long]("cust") === 5000000000L,
        "wide frame carries the value the narrow schema couldn't")

      // the NARROWING direction must not silently truncate: a
      // v2-pinned reader on a long-written frame is an Avro
      // resolution error — lenient mode maps it to the consumer's
      // skip-undecodable NULL
      val narrowed = spark.table("widen_pipe")
        .withColumn("sid", Envelope.sliceSchemaId(col("envelope")))
        .filter(col("sid") === idV3)
        .select(Envelope.open(col("envelope"), Seq(idV3 -> v3), v2, v2st,
          lenient = true).as("d"))
        .collect()
      assert(narrowed.nonEmpty && narrowed.forall(_.isNullAt(0)),
        "long -> int narrowing must skip, never truncate")
    } finally q.stop()
  }
}
