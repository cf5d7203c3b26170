package graft

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import graft.functions.{AvroCodec, Envelope}
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The Avro codec against Avro's generic writer and reader: random
  * rows of every supported type encode (through the compiled writer)
  * to the generic writer's exact bytes, and decode to what the generic
  * reader gives, also through schema resolution. Each property runs
  * once interpreted (a local relation, folded on the driver) and once
  * in whole-stage codegen (an RDD scan). */
class AvroCodecSpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val schemaJson =
    """{"type":"record","name":"AllTypes","namespace":"graft.test","fields":[
      |{"name":"s","type":"string"},
      |{"name":"ns","type":["null","string"]},
      |{"name":"i","type":"int"},
      |{"name":"ni","type":["null","int"]},
      |{"name":"b","type":"int"},
      |{"name":"sh","type":"int"},
      |{"name":"l","type":"long"},
      |{"name":"nl","type":["null","long"]},
      |{"name":"f","type":"float"},
      |{"name":"d","type":"double"},
      |{"name":"bo","type":"boolean"},
      |{"name":"bin","type":["null","bytes"]},
      |{"name":"dec","type":["null",{"type":"bytes","logicalType":"decimal","precision":12,"scale":2}]},
      |{"name":"big","type":{"type":"bytes","logicalType":"decimal","precision":38,"scale":6}},
      |{"name":"day","type":{"type":"int","logicalType":"date"}},
      |{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},
      |{"name":"ms","type":{"type":"map","values":"string"}},
      |{"name":"ml","type":["null",{"type":"map","values":["null","long"]}]}
      |]}""".stripMargin
  private lazy val schema = new Schema.Parser().parse(schemaJson)

  /** The generated columns: dates and timestamps ride as their Spark
    * internal int days and long micros and are converted in [[record]]. */
  private val inputSchema = StructType(Seq(
    StructField("s", StringType), StructField("ns", StringType),
    StructField("i", IntegerType), StructField("ni", IntegerType),
    StructField("b", ByteType), StructField("sh", ShortType),
    StructField("l", LongType), StructField("nl", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("bo", BooleanType), StructField("bin", BinaryType),
    StructField("dec", DecimalType(12, 2)),
    StructField("big", DecimalType(38, 6)),
    StructField("day", IntegerType), StructField("ts", LongType),
    StructField("ms", MapType(StringType, StringType)),
    StructField("ml", MapType(StringType, LongType))))

  private val recordType = StructType(inputSchema.map {
    case StructField("day", _, n, m) => StructField("day", DateType, n, m)
    case StructField("ts", _, n, m) => StructField("ts", TimestampType, n, m)
    case f => f
  })

  private def record(df: DataFrame): DataFrame = df.select(struct(
    inputSchema.fieldNames.toSeq.map {
      case "day" => expr("date_from_unix_date(day)").as("day")
      case "ts" => expr("timestamp_micros(ts)").as("ts")
      case n => col(n)
    }: _*).as("rec"))

  private val genStr = Gen.oneOf(Gen.alphaNumStr, Gen.const(""),
    Gen.const("日本語 🎉 \t\n"), Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf('é', 'ß', '中', '\u0000', 'z')).map(_.mkString))
  private def orNull[T](g: Gen[T]): Gen[T] =
    Gen.frequency(1 -> Gen.const(null.asInstanceOf[T]), 3 -> g)
  private val genLong = Gen.oneOf(Gen.const(Long.MinValue),
    Gen.const(Long.MaxValue), Gen.const(0L), Gen.const(-1L),
    Gen.chooseNum(Long.MinValue, Long.MaxValue), Gen.chooseNum(-200L, 200L))
  private val genInt = Gen.oneOf(Gen.const(Int.MinValue),
    Gen.const(Int.MaxValue), Gen.const(-1), Gen.chooseNum(Int.MinValue,
      Int.MaxValue), Gen.chooseNum(-200, 200))
  private val genFloat = Gen.oneOf(Gen.const(Float.NaN), Gen.const(-0.0f),
    Gen.const(Float.NegativeInfinity), Gen.chooseNum(-1e30f, 1e30f))
  private val genDouble = Gen.oneOf(Gen.const(Double.NaN), Gen.const(-0.0),
    Gen.const(Double.MinPositiveValue), Gen.chooseNum(-1e300, 1e300))
  private def decimal(unscaled: Gen[BigInt], scale: Int) =
    unscaled.map(u => new java.math.BigDecimal(u.bigInteger, scale))
  /** Up to `live` non-NULL values and up to one NULL one. With `live`
    * at most 1 the map has one byte layout: the generic writer writes
    * in `HashMap` order. */
  private def mapOf[V](v: Gen[V], live: Int): Gen[Map[String, V]] = for {
    n <- Gen.chooseNum(0, live)
    nulls <- Gen.chooseNum(0, 1)
    keys <- Gen.listOfN(n + nulls, Gen.identifier).map(_.distinct)
    vals <- Gen.listOfN(n, v)
  } yield (keys.zip(vals) ++ keys.drop(n).map(_ -> null.asInstanceOf[V])).toMap

  private def genRow(live: Int): Gen[Row] = for {
    s <- genStr; ns <- orNull(genStr)
    i <- genInt; ni <- orNull(genInt.map(Int.box))
    b <- Gen.chooseNum(Byte.MinValue, Byte.MaxValue)
    sh <- Gen.chooseNum(Short.MinValue, Short.MaxValue)
    l <- genLong; nl <- orNull(genLong.map(Long.box))
    f <- genFloat; d <- genDouble; bo <- Gen.oneOf(true, false)
    bin <- orNull(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray))
    dec <- orNull(decimal(Gen.chooseNum(-99999999999L, 99999999999L)
      .map(BigInt(_)), 2))
    big <- decimal(Gen.oneOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)
      .map(BigInt(_)), Gen.chooseNum(-1L, 1L).map(BigInt(10).pow(31) * _ - 7)), 6)
    day <- Gen.chooseNum(-719162, 2932896)
    ts <- Gen.chooseNum(-62135596800000000L, 253402300799000000L)
    ms <- mapOf(genStr, live)
    ml <- orNull(mapOf(genLong.map(Long.box), live))
  } yield new GenericRowWithSchema(Array[Any](s, ns, i, ni, b, sh, l, nl, f,
    d, bo, bin, dec, big, day, ts, ms, ml), inputSchema)

  /** The same cells as an Avro generic record, the way the generic
    * path boxed them: NULL map values dropped, decimals as unscaled
    * bytes, small ints widened. */
  private def generic(r: Row): GenericData.Record = {
    val rec = new GenericData.Record(schema)
    def map(m: scala.collection.Map[String, Any]): java.util.Map[String, Any] =
      if (m == null) null
      else new java.util.HashMap(m.filter(_._2 != null).asJava)
    def unscaled(d: java.math.BigDecimal) =
      if (d == null) null else ByteBuffer.wrap(d.unscaledValue.toByteArray)
    Seq("s", "ns", "i", "ni", "l", "nl", "f", "d", "bo", "day", "ts")
      .foreach(n => rec.put(n, r.getAs[Any](n)))
    rec.put("b", r.getAs[Byte]("b").toInt)
    rec.put("sh", r.getAs[Short]("sh").toInt)
    rec.put("bin", Option(r.getAs[Array[Byte]]("bin")).map(ByteBuffer.wrap).orNull)
    rec.put("dec", unscaled(r.getAs[java.math.BigDecimal]("dec")))
    rec.put("big", unscaled(r.getAs[java.math.BigDecimal]("big")))
    rec.put("ms", map(r.getAs[scala.collection.Map[String, Any]]("ms")))
    rec.put("ml", map(r.getAs[scala.collection.Map[String, Any]]("ml")))
    rec
  }

  private def genericBytes(s: Schema, rec: GenericRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](s).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def genericRead(writer: Schema, reader: Schema,
      bytes: Array[Byte]): GenericRecord =
    new GenericDatumReader[GenericRecord](writer, reader)
      .read(null, DecoderFactory.get().binaryDecoder(bytes, null))

  /** `rows` as a frame twice: a local relation (the codec runs on the
    * driver, interpreted) and a 3-partition RDD (whole-stage codegen). */
  private def frames(rows: Seq[Row], st: StructType): Seq[(String, DataFrame)] =
    Seq("interpreted" -> spark.createDataFrame(rows.asJava, st),
      "codegen" -> spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), st))

  private def encoded(df: DataFrame): Seq[Array[Byte]] =
    record(df).select(AvroCodec.encode(col("rec"), schemaJson))
      .collect().toSeq.map(_.getAs[Array[Byte]](0))

  test("encode: every supported type gives the generic writer's bytes") {
    val rows = samples(genRow(live = 1), 300)
    val expected = rows.map(r => genericBytes(schema, generic(r)).toSeq)
    for ((mode, df) <- frames(rows, inputSchema)) {
      val got = encoded(df).map(_.toSeq)
      rows.indices.foreach(k =>
        assert(got(k) === expected(k), s"$mode row $k: ${rows(k)}"))
    }
    // the generators reach the cases the property is about
    assert(rows.exists(_.isNullAt(1)) && rows.exists(_.isNullAt(17)))
    assert(rows.exists(r => r.getAs[java.math.BigDecimal]("big").signum < 0))
    assert(rows.exists(r => r.getAs[Map[String, String]]("ms").isEmpty))
    assert(rows.exists(r => r.getAs[Map[String, String]]("ms").values
      .exists(_ == null)))
    assert(rows.exists(r => java.lang.Float.isNaN(r.getAs[Float]("f"))))
  }

  test("encode: multi-entry maps decode through the generic reader to " +
    "the same entries") {
    val rows = samples(genRow(live = 5), 100)
    for ((mode, df) <- frames(rows, inputSchema)) {
      encoded(df).zip(rows).foreach { case (bytes, r) =>
        val back = genericRead(schema, schema, bytes)
        def entries(v: AnyRef): Map[String, Any] =
          v.asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala.map {
            case (k, v) => k.toString -> (v match {
              case u: org.apache.avro.util.Utf8 => u.toString
              case o => o
            })
          }.toMap
        def live(n: String) =
          r.getAs[Map[String, Any]](n).filter(_._2 != null)
        assert(entries(back.get("ms")) === live("ms"), mode)
        if (r.isNullAt(17)) assert(back.get("ml") === null)
        else assert(entries(back.get("ml")) === live("ml"), mode)
      }
    }
    assert(rows.exists(_.getAs[Map[String, String]]("ms").size >= 3))
  }

  test("encode: NULL in a non-union field fails, as in the generic writer") {
    val st = StructType(Seq(StructField("s", StringType),
      StructField("i", IntegerType)))
    val json = """{"type":"record","name":"R","fields":[
      |{"name":"s","type":"string"},{"name":"i","type":"int"}]}""".stripMargin
    for ((mode, df) <- frames(Seq(Row(null, 1)), st)) {
      val e = intercept[Exception](df.select(AvroCodec.encode(
        struct(col("s"), col("i")), json)).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[NullPointerException]), mode)
    }
  }

  /** A Spark value as the generic reader's value would convert. */
  private def fromGeneric(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case b: ByteBuffer => val a = new Array[Byte](b.remaining)
      b.duplicate().get(a); a.toSeq
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> fromGeneric(x) }.toMap
    case o => bits(o)
  }

  private def fromSpark(v: Any): Any = v match {
    case a: Array[Byte] => a.toSeq
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> fromSpark(x) }.toMap
    case o => bits(o)
  }

  /** Floats compared by their bits, so NaN equals NaN and −0.0 is not
    * 0.0. */
  private def bits(v: Any): Any = v match {
    case f: java.lang.Float => java.lang.Float.floatToRawIntBits(f)
    case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
    case o => o
  }

  /** Decodes `bytes` (written under `writerJson`) into `as` and
    * projects dates and timestamps back to their int / long. */
  private def decoded(bytes: Seq[Array[Byte]], readerJson: String,
      writerJson: String, as: StructType): Seq[(String, Seq[Row])] =
    frames(bytes.map(Row(_)), StructType(Seq(StructField("bin", BinaryType))))
      .map { case (mode, df) =>
        mode -> df.select(AvroCodec.decode(col("bin"), readerJson, as,
            writerJson).as("d"))
          .select(as.fieldNames.toSeq.map(n => as(n).dataType match {
            case DateType => expr(s"unix_date(d.$n)").as(n)
            case TimestampType => expr(s"unix_micros(d.$n)").as(n)
            case _ => col(s"d.$n")
          }): _*).collect().toSeq
      }

  test("decode: equals the generic reader when the writer is the reader") {
    val rows = samples(genRow(live = 4), 200)
    val bytes = rows.map(r => genericBytes(schema, generic(r)))
    val expected = bytes.map(b => genericRead(schema, schema, b))
    for ((mode, got) <- decoded(bytes, schemaJson, schemaJson, recordType))
      got.zip(expected).zipWithIndex.foreach { case ((row, rec), k) =>
        recordType.fieldNames.foreach { n =>
          val want = fromGeneric(rec.get(n)) match {
            case b: Seq[_] if n == "dec" || n == "big" =>
              val s = recordType(n).dataType.asInstanceOf[DecimalType].scale
              new java.math.BigDecimal(new java.math.BigInteger(
                b.asInstanceOf[Seq[Byte]].toArray), s)
            case i: Integer if n == "b" => i.toByte
            case i: Integer if n == "sh" => i.toShort
            case o => o
          }
          assert(fromSpark(row.getAs[Any](n)) === want, s"$mode row $k $n")
        }
      }
  }

  test("decode: resolution (added field with default, dropped field, " +
    "int→long) equals the generic reader") {
    val writerJson = """{"type":"record","name":"R","fields":[
      |{"name":"a","type":"int"},
      |{"name":"gone","type":["null","string"]},
      |{"name":"m","type":{"type":"map","values":"int"}},
      |{"name":"b","type":["null","int"]},
      |{"name":"s","type":"string"}]}""".stripMargin
    val readerJson = """{"type":"record","name":"R","fields":[
      |{"name":"s","type":"string"},
      |{"name":"a","type":"long"},
      |{"name":"b","type":["null","long"]},
      |{"name":"m","type":{"type":"map","values":"long"}},
      |{"name":"added","type":["null","string"],"default":null},
      |{"name":"seven","type":"int","default":7}]}""".stripMargin
    val writer = new Schema.Parser().parse(writerJson)
    val reader = new Schema.Parser().parse(readerJson)
    val as = StructType(Seq(StructField("s", StringType),
      StructField("a", LongType), StructField("b", LongType),
      StructField("m", MapType(StringType, LongType)),
      StructField("added", StringType), StructField("seven", IntegerType)))
    val gen = for {
      a <- genInt; gone <- orNull(genStr); b <- orNull(genInt.map(Int.box))
      m <- Gen.mapOf(Gen.zip(Gen.identifier, genInt.map(Int.box)))
      s <- genStr
    } yield {
      val rec = new GenericData.Record(writer)
      rec.put("a", a); rec.put("gone", gone); rec.put("b", b)
      rec.put("m", new java.util.HashMap(m.asJava)); rec.put("s", s)
      rec
    }
    val bytes = samples(gen, 200).map(genericBytes(writer, _))
    val expected = bytes.map(genericRead(writer, reader, _))
    for ((mode, got) <- decoded(bytes, readerJson, writerJson, as))
      got.zip(expected).foreach { case (row, rec) =>
        as.fieldNames.foreach { n =>
          val want = fromGeneric(rec.get(n)) match {
            case m: Map[_, _] => m.map { case (k, v) =>
              k -> v.asInstanceOf[Number].longValue() }
            case o => o
          }
          assert(fromSpark(row.getAs[Any](n)) === want, s"$mode $n")
        }
        assert(row.getAs[Int]("seven") === 7 && row.isNullAt(4))
      }
  }

  test("decode: a truncated or garbage payload is NULL when lenient and " +
    "fails when strict") {
    val good = genericBytes(schema, generic(samples(genRow(1), 1).head))
    val bad = Seq(good.take(good.length / 2), Array.fill[Byte](9)(-1))
    for ((mode, df) <- frames(bad.map(Row(_)),
        StructType(Seq(StructField("bin", BinaryType))))) {
      val lenient = df.select(AvroCodec.decode(col("bin"), schemaJson,
        recordType, lenient = true).as("d")).collect()
      assert(lenient.forall(_.isNullAt(0)), mode)
      intercept[Exception](df.select(AvroCodec.decode(col("bin"), schemaJson,
        recordType).as("d")).collect())
    }
  }

  /** Runs `f` on four threads at once, each in its own FAIR pool
    * (`serve0..3`), and returns the four results. */
  private def onFourThreads[T](f: () => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try (0 until 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[T] {
        def call() = {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool",
            s"serve$i")
          try f() finally
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        }
      })
    }.map(_.get())
    finally pool.shutdown()
  }

  /** A generic record of `id`; strings up to ~2 KB grow each buffer
    * past its first size. */
  private def idRecord(id: org.apache.spark.sql.Column) = struct(
    id.cast("string").as("database"),
    repeat(lit("é"), (id % 1000).cast("int")).as("tbl"),
    id.cast("int").as("table_id"),
    when(id % 5 === 0, lit(null)).otherwise(id.cast("string")).as("pk"),
    map(lit("k"), id.cast("int")).as("integers"),
    map(lit("s"), repeat(lit("x"), (id % 7).cast("int"))).as("strings"),
    map(lit("l"), id).as("longs"))

  test("seal: one sealed frame collected from four threads at once gives " +
    "the serial bytes in every thread") {
    val n = 20000L
    val ids = Seq("codegen" -> spark.range(0, n, 1, 8).toDF(),
      "interpreted" -> spark.createDataFrame(
        (0L until n).map(Row(_)).asJava,
        StructType(Seq(StructField("id", LongType)))))
    for ((mode, df) <- ids) {
      val framed = df.select(col("id"), Envelope.seal(
        (col("id") % 3).cast("int"), lit(7), idRecord(col("id")),
        Envelope.genericSchemaV1).as("env"))
      // each call plans its own query, so a local relation's seal runs
      // (interpreted, on the driver) in every thread
      def bytes(): Map[Long, Seq[Byte]] = framed.select(col("*")).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      val serial = bytes()
      assert(serial.size === n, mode)
      onFourThreads(() => bytes()).foreach(r => assert(r === serial, mode))
    }
  }

  test("seal: one foldable seal expression evaluated from four threads " +
    "at once gives the serial bytes") {
    // constant folding evaluates this one instance in every query that
    // holds it, whichever thread plans the query
    val seal = spark.range(1).select(Envelope.seal(lit(2), lit(7),
        idRecord(lit(1999L)), Envelope.genericSchemaV1))
      .queryExecution.analyzed.expressions
      .flatMap(_.collect { case e: graft.functions.EnvelopeExpr => e }).head
    // the record as one literal: Spark's own map builder (CreateMap)
    // keeps per-instance state, so only the seal is shared here
    val folded = seal.copy(body = org.apache.spark.sql.catalyst.expressions
      .Literal(seal.body.eval(), seal.body.dataType))
    assert(folded.foldable)
    val serial = folded.eval().asInstanceOf[Array[Byte]].toSeq
    onFourThreads(() => (0 until 20000).map(_ =>
      folded.eval().asInstanceOf[Array[Byte]].toSeq).distinct)
      .foreach(r => assert(r === Seq(serial)))
  }
}
