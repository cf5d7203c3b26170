package graft

import graft.avro.{AvroSubjects, SchemaRegistry}
import graft.functions.{AvroCodec, Envelope}
import graft.sources.ChangeFeed
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class EnvelopeSpec extends SparkSpec {

  test("registry: idempotent register, versioning, bidirectional lookup") {
    val reg = new SchemaRegistry
    val s1 = """{"type":"record","name":"R","fields":[{"name":"a","type":"int"}]}"""
    val s2 = """{"type":"record","name":"R","fields":[{"name":"a","type":"int"},{"name":"b","type":["null","string"],"default":null}]}"""
    val subj = AvroSubjects.specific("testdb", "user", "insert")
    val id1 = reg.register(subj, s1)
    assert(reg.register(subj, s1) === id1, "idempotent")
    val id2 = reg.register(subj, s2)
    assert(id2 !== id1)
    assert(reg.latest(subj).map(_._1) === Some(id2))
    assert(reg.schemaById(id1) === Some(s1))
    assert(reg.idOf(subj, s2) === Some(id2))
    assert(reg.versionCount(subj) === 2)
  }

  test("F4: compat check rejects rows with fields missing from schema") {
    assert(Envelope.compatible(Envelope.genericSchemaV1,
      Seq("database", "tbl", "strings")))
    assert(!Envelope.compatible(Envelope.genericSchemaV1,
      Seq("database", "email")), "pre-ALTER schema lacks new column")
  }

  test("T7: ALTER registers a new version; generic maps absorb new columns") {
    val reg = new SchemaRegistry
    val subj = AvroSubjects.generic("insert")
    reg.register(subj, Envelope.genericSchemaV1)
    // ALTER adds a column: generic envelope schema is unchanged (the new
    // cell just appears as another map entry), so version count stays 1
    // on the generic subject — the property that lets the stream keep
    // running (SURVEY §7.5). A specific subject would version-bump:
    val v2 = Envelope.genericSchemaV1.replace(
      "\"name\":\"pk\"", "\"name\":\"pk2\"")
    assert(reg.register(subj, Envelope.genericSchemaV1) ===
      reg.latest(subj).get._1)
    val specific = AvroSubjects.specific("testdb", "user", "insert")
    reg.register(specific, Envelope.genericSchemaV1)
    reg.register(specific, v2)
    assert(reg.versionCount(specific) === 2)
  }

  test("schema repo client: mid-stream ALTER heals via flush-on-miss retry") {
    import graft.avro.CachingSchemaRepoClient
    val remote = new SchemaRegistry
    val subj = AvroSubjects.specific("testdb", "user", "insert")
    val v1 =
      """{"type":"record","name":"user_insert","namespace":"graft.avro.testdb",
        |"fields":[{"name":"a","type":["null","int"],"default":null}]}"""
        .stripMargin.replace("\n", "")
    val id1 = remote.register(subj, v1)
    val client = new CachingSchemaRepoClient(remote)
    assert(client.schemaById(id1) === Some(v1)) // primes the snapshot
    assert(client.cachedSchemaById(id1) === Some(v1), "cache hit")

    // ALTER lands out-of-band: a NEW schema version registered directly
    // on the remote — this client's snapshot doesn't know its id yet
    val v2 =
      """{"type":"record","name":"user_insert","namespace":"graft.avro.testdb",
        |"fields":[{"name":"a","type":["null","int"],"default":null},
        |{"name":"b","type":["null","string"],"default":null}]}"""
        .stripMargin.replace("\n", "")
    val id2 = remote.register(subj, v2)
    assert(client.cachedSchemaById(id2) === None, "stale snapshot misses")

    // consumer retry dance: flush + one retry resolves the new writer
    // schema (reference KafkaAvroDecoder.scala:61-64)
    val resolved = CachingSchemaRepoClient.resolveWithRetry(client, id2)
    assert(resolved === Some(v2))
    assert(client.flushes === 1)
    assert(client.cachedSchemaById(id2) === Some(v2), "healed snapshot")

    // unknown ids stay unknown after the retry (no infinite loop)
    assert(CachingSchemaRepoClient.resolveWithRetry(client, 999) === None)

    // and the resolved schema actually decodes a v2 payload end-to-end
    val sparkS = spark
    import sparkS.implicits._
    val st = StructType(Seq(StructField("a", IntegerType),
      StructField("b", StringType)))
    val decoded = Seq((7, "x")).toDF("a", "b")
      .select(AvroCodec.encode(struct(col("a"), col("b")), v2).as("env"))
      .select(AvroCodec.decode(col("env"), resolved.get, st).as("d"))
      .select("d.a", "d.b").collect().head
    assert(decoded.getInt(0) === 7 && decoded.getString(1) === "x")
  }

  test("avro codec: struct survives encode/decode including null map entries") {
    val sparkS = spark
    import sparkS.implicits._
    val df = Seq(
      ("db1", "t1", 7, "1.2", Map("k" -> 1), Map("s" -> "x"), Map("l" -> 5L)),
      ("db2", "t2", 8, null, Map.empty[String, Int],
        Map.empty[String, String], Map.empty[String, Long]))
      .toDF("database", "tbl", "table_id", "pk", "integers", "strings", "longs")
      .withColumn("record", struct(col("database"), col("tbl"),
        col("table_id"), col("pk"), col("integers"), col("strings"),
        col("longs")))
    val decoded = df
      .withColumn("bin", AvroCodec.encode(col("record"),
        Envelope.genericSchemaV1))
      .withColumn("back", AvroCodec.decode(col("bin"),
        Envelope.genericSchemaV1, Envelope.genericStructV1))
    val rows = decoded.select("back.database", "back.pk", "back.longs")
      .collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("db1", "db2"))
    assert(rows(0).getAs[Map[String, Long]]("longs") === Map("l" -> 5L))
    assert(rows(1).isNullAt(1), "null pk survives the union type")
  }

  test("P5 frame layout: magic|mtype|schemaId(2B BE)|payload bytes") {
    val sparkS = spark
    import sparkS.implicits._
    val df = Seq((2, 258, Array[Byte](9, 8, 7))).toDF("mt", "sid", "pl")
    val framed = df.select(Envelope.frame(col("mt"), col("sid"),
      col("pl")).as("env")).collect().head.getAs[Array[Byte]]("env")
    assert(framed.toSeq === Seq[Byte](0, 2, 1, 2, 9, 8, 7),
      "schema id 258 = 0x0102 big-endian")
  }

  test("P12: slicing recovers header fields and payload") {
    val sparkS = spark
    import sparkS.implicits._
    val df = Seq((3, 770, Array[Byte](1, 2, 3, 4))).toDF("mt", "sid", "pl")
      .select(Envelope.frame(col("mt"), col("sid"), col("pl")).as("envelope"))
    val r = df.select(
      Envelope.sliceMagic(col("envelope")).as("m"),
      Envelope.sliceMtype(col("envelope")).as("t"),
      Envelope.sliceSchemaId(col("envelope")).as("s"),
      Envelope.slicePayload(col("envelope")).as("p")).collect().head
    assert(r.getInt(0) === 0 && r.getInt(1) === 3 && r.getInt(2) === 770)
    assert(r.getAs[Array[Byte]]("p").toSeq === Seq[Byte](1, 2, 3, 4))
  }

  test("frame guard: truncated and foreign frames are dropped, not mangled") {
    val sparkS = spark
    import sparkS.implicits._
    val reg = new SchemaRegistry
    val good = Envelope.serialize(
      ChangeFeed.fromEvents(spark, sf).limit(3), reg)
      .select("envelope")
    val junk = Seq(
      Array[Byte](), // empty
      Array[Byte](0), // header cut short
      Array[Byte](0, 1, 0, 1), // exactly header, no payload
      Array[Byte](9, 1, 0, 1, 42) // wrong magic
    ).toDF("envelope")
    val mixed = good.unionByName(junk)
    assert(mixed.filter(Envelope.wellFormed(col("envelope"))).count() === 3)
    // deserialize survives the junk and decodes exactly the good rows
    val decoded = Envelope.deserialize(mixed, reg)
    assert(decoded.count() === 3)
    assert(decoded.filter(col("magic") === Envelope.Magic).count() === 3)
  }

  test("skip-undecodable: unknown ids and corrupt payloads drop, not die") {
    val sparkS = spark
    import sparkS.implicits._
    val reg = new SchemaRegistry
    val good = Envelope.serialize(
      ChangeFeed.fromEvents(spark, sf).limit(3), reg)
      .select("envelope")
    // well-FORMED frames (magic ok, length ok) that cannot decode:
    // an id the registry never minted, and a known id over garbage
    // avro bytes — the reference consumer skips both rather than dying
    val knownId = reg.versionsOf(
      graft.avro.AvroSubjects.generic("insert")).head._1
    val unknownId = Seq(("x", 9999)).toDF("x", "sid")
      .select(Envelope.frame(lit(1), col("sid"),
        lit(Array[Byte](1, 2, 3))).as("envelope"))
    val corrupt = Seq(("x", knownId)).toDF("x", "sid")
      .select(Envelope.frame(lit(1), col("sid"),
        lit(Array.fill[Byte](7)(-1))).as("envelope"))
    val mixed = good.unionByName(unknownId).unionByName(corrupt)
    assert(mixed.filter(Envelope.wellFormed(col("envelope"))).count() === 5,
      "all five frames pass the header guard")
    val decoded = Envelope.deserialize(mixed, reg)
    assert(decoded.count() === 3, "only the decodable rows survive")
    assert(decoded.filter(col("decoded").isNull).count() === 0)
  }

  test("open: an empty version list decodes nothing; deserialize drops " +
    "every row") {
    val reg = new SchemaRegistry
    val enveloped = Envelope.serialize(
      ChangeFeed.fromEvents(spark, sf).limit(3), reg)
    val opened = enveloped.select(Envelope.open(col("envelope"), Nil,
      Envelope.genericSchemaV1, Envelope.genericStructV1,
      lenient = false).as("d"))
    assert(opened.count() === 3)
    assert(opened.filter(col("d").isNotNull).count() === 0)
    // a consumer whose registry knows no generic version skips every
    // frame, as it skips any frame under an id it does not know
    assert(Envelope.deserialize(enveloped, new SchemaRegistry).count() === 0)
    assert(Envelope.deserialize(enveloped, reg).count() === 3)
  }

  test("open: a strict open gives NULL for truncated and wrong-magic " +
    "frames instead of decoding their bytes") {
    val reg = new SchemaRegistry
    val good = Envelope.serialize(
      ChangeFeed.fromEvents(spark, sf).limit(3), reg)
      .select("envelope")
    val versions = Envelope.GenericOps
      .flatMap(op => reg.versionsOf(AvroSubjects.generic(op)))
    val bad = good
      .select(explode(array(
        substring(col("envelope"), 1, 4), // header only
        substring(col("envelope"), 1, 2), // header cut short
        concat(lit(Array[Byte](9)), // wrong magic, intact rest
          substring(col("envelope"), 2, 1 << 20)))).as("envelope"))
    assert(bad.count() === 9)
    val opened = good.unionByName(bad).select(
      Envelope.open(col("envelope"), versions, Envelope.genericSchemaV1,
        Envelope.genericStructV1, lenient = false).as("d"))
      .collect()
    assert(opened.count(!_.isNullAt(0)) === 3, "the sealed frames decode")
    assert(opened.count(_.isNullAt(0)) === 9, "the ill-formed ones do not")
  }

  test("open: one decode branch per distinct writer schema") {
    val reg = new SchemaRegistry
    Envelope.GenericOps.foreach(op =>
      reg.register(AvroSubjects.generic(op), Envelope.genericSchemaV1))
    val v2 = Envelope.genericSchemaV1.replace(
      "\"name\":\"pk\"", "\"name\":\"pk2\"")
    reg.register(AvroSubjects.generic("insert"), v2)
    val versions = Envelope.GenericOps
      .flatMap(op => reg.versionsOf(AvroSubjects.generic(op)))
    assert(versions.size === 4 && versions.map(_._2).distinct.size === 2)
    val opened = Envelope.open(col("envelope"), versions,
      Envelope.genericSchemaV1, Envelope.genericStructV1, lenient = true)
    val plan = spark.range(1).select(lit(Array[Byte]()).as("envelope"))
      .select(opened).queryExecution.analyzed
    val decodes = plan.expressions.flatMap(_.collect {
      case d: graft.functions.AvroDecodeExpr => d })
    assert(decodes.size === 2)
    assert(decodes.map(d => Option(d.writerSchemaJson)).toSet ===
      Set(None, Some(v2)), "the reader's own schema decodes unresolved")
  }

  test("end-to-end envelope roundtrip matches the source feed") {
    val feed = ChangeFeed.fromEvents(spark, sf)
    val rt = Envelope.p5EnvelopeRoundtrip(spark, sf)
    assert(rt.count() === feed.count())
    val joined = rt.alias("r").join(feed.alias("f"), Seq("event_id"))
      .filter(col("r.event_type_rt") =!= col("f.event_type") ||
        col("r.user_id_rt") =!= col("f.user_id"))
    assert(joined.count() === 0, "every value survives the wire format")
  }
}
